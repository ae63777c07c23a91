"""Scale-extension queries (training-data pipeline operators) with DuckDB
oracles, over the documents/embeddings testdata.

Near-dup scenarios plant synthetic duplicates deterministically inside
the query (testdata texts are all distinct): exact copies at
doc_id+100000, and near-copies with the last word dropped — so the
operators have real positives to find at every scale factor.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..operators.dedup_text import (
    connected_components,
    exact_dedup,
    keep_best_per_component,
    lsh_candidate_pairs,
    minhash_from_shingles,
    minhash_signatures,
    ngram_jaccard,
    segment_dedup,
    shingle_docs,
    shingle_sets,
    simhash_fingerprint,
    simhash_near_pairs,
    simhash_near_pairs_multitable,
    word_grams,
    words_col,
)
from ..operators.multimodal import documents_as_assets, extract_features
from ..operators.similarity import (
    ann_recall_at_k,
    cosine_topk,
    embedding_centroids,
    ivf_topk,
    lsh_topk,
    neardup_pairs,
)
from ..operators.skew import salted_sum_count
from ..operators.temporal import asof_join, range_join_pairs
from ..operators.text_analysis import (
    contamination,
    fingerprints,
    lang_id,
    pii_scrub,
    quality_features,
    repetition_features,
    token_counts,
)
from ..sources.parquet import load_table
from .registry import register

ID_OFFSET = 100000


def _with_exact_copies(docs: DataFrame) -> DataFrame:
    return docs.select("doc_id", "text").unionAll(
        docs.select((F.col("doc_id") + ID_OFFSET).alias("doc_id"), "text")
    )


def _set_rows(sets: DataFrame) -> DataFrame:
    """shingle_sets' (doc_id, __sh) back to shingle_docs' (doc_id, __s)
    rows, so one checkpointed set table feeds signatures too."""
    return sets.select("doc_id", F.explode("__sh").alias("__s"))


def _with_near_copies(docs: DataFrame) -> DataFrame:
    """Originals plus near-duplicates (last word dropped)."""
    w = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    mutated = docs.select(
        (F.col("doc_id") + ID_OFFSET).alias("doc_id"),
        F.array_join(F.slice(w, 1, F.size(w) - 1), " ").alias("text"),
    )
    return docs.select("doc_id", "text").unionAll(mutated)


# SQL fragments mirrored by the Spark builders above.
SQL_EXACT_COPIES = f"""
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {ID_OFFSET} AS doc_id, text FROM documents
"""

SQL_NEAR_COPIES = rf"""
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {ID_OFFSET} AS doc_id,
         array_to_string(words[1:len(words)-1], ' ') AS text
  FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS words
        FROM documents)
"""

# k=3 word shingles, distinct; empty when < 3 words
SQL_SHINGLES = r"""
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(words) - 1),
                                      i -> array_to_string(words[i:i+2], ' '))) AS shingles
  FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS words
        FROM all_docs)
  WHERE len(words) >= 3
"""


# ---------------------------------------------------------------------------
# Exact dedup: hash-groupBy on md5(text).
# ---------------------------------------------------------------------------
EXACT_ORACLE = f"""
WITH all_docs AS ({SQL_EXACT_COPIES})
SELECT md5(text) AS content_hash,
       MIN(doc_id) AS keep_id,
       CAST(COUNT(*) AS BIGINT) AS n_copies
FROM all_docs GROUP BY 1
"""


@register("dedup_exact_hash", EXACT_ORACLE)
def dedup_exact_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _with_exact_copies(load_table(spark, sf_dir, "documents"))
    return exact_dedup(docs, "doc_id", "text")


# ---------------------------------------------------------------------------
# MinHash + LSH candidate pairs (4 bands x 2 rows, k=3 shingles).
# ---------------------------------------------------------------------------
BANDS, ROWS_PER_BAND = 4, 2


def _sql_perm_hash(j: int) -> str:
    """Mirrors operators/dedup_text._perm_hash: permutation j = 8-hex
    slice j%4 of md5('<j//4>|' || shingle)."""
    group, slot = divmod(j, 4)
    return f"substr(md5('{group}|' || s), {slot * 8 + 1}, 8)"


def _sql_band_bucket(band: int) -> str:
    mins = ", ".join(
        f"list_min(list_transform(shingles, s -> {_sql_perm_hash(band * ROWS_PER_BAND + r)}))"
        for r in range(ROWS_PER_BAND)
    )
    return f"SELECT doc_id, {band} AS band, md5(concat_ws('|', {mins})) AS bucket FROM sh"


MINHASH_ORACLE = f"""
WITH all_docs AS ({SQL_NEAR_COPIES}),
sh AS ({SQL_SHINGLES}),
sigs AS ({" UNION ALL ".join(_sql_band_bucket(b) for b in range(BANDS))})
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM sigs a JOIN sigs b
  ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
"""


@register("dedup_minhash_lsh", MINHASH_ORACLE)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _with_near_copies(load_table(spark, sf_dir, "documents"))
    sigs = minhash_signatures(
        docs, "doc_id", "text", k=3, bands=BANDS, rows_per_band=ROWS_PER_BAND
    )
    return lsh_candidate_pairs(sigs, "doc_id")


# ---------------------------------------------------------------------------
# n-gram Jaccard verification of the LSH candidates.
# ---------------------------------------------------------------------------
JACCARD_ORACLE = f"""
WITH all_docs AS ({SQL_NEAR_COPIES}),
sh AS ({SQL_SHINGLES}),
sigs AS ({" UNION ALL ".join(_sql_band_bucket(b) for b in range(BANDS))}),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sigs a JOIN sigs b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
)
SELECT p.id_a, p.id_b,
       CAST(len(list_intersect(sa.shingles, sb.shingles)) AS INT) AS n_common,
       CAST(len(list_distinct(list_concat(sa.shingles, sb.shingles))) AS INT) AS n_total,
       ROUND(CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
             / len(list_distinct(list_concat(sa.shingles, sb.shingles))), 6) AS jaccard
FROM pairs p
JOIN sh sa ON p.id_a = sa.doc_id
JOIN sh sb ON p.id_b = sb.doc_id
"""


@register("dedup_ngram_jaccard", JACCARD_ORACLE)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _with_near_copies(load_table(spark, sf_dir, "documents"))
    # one materialized shingle-set table feeds signature generation AND
    # Jaccard verification (three consumers, one computation)
    sets = shingle_sets(docs, "doc_id", "text", k=3).localCheckpoint(eager=False)
    sigs = minhash_from_shingles(_set_rows(sets), "doc_id", bands=BANDS, rows_per_band=ROWS_PER_BAND)
    pairs = lsh_candidate_pairs(sigs, "doc_id")
    return ngram_jaccard(pairs, docs, "doc_id", "text", k=3, sets=sets)


# ---------------------------------------------------------------------------
# Asymmetric containment verification of the LSH candidates — catches
# sub-document duplication that Jaccard under-scores (a short doc fully
# contained in a long one).
# ---------------------------------------------------------------------------
CONTAINMENT_ORACLE = f"""
WITH all_docs AS ({SQL_NEAR_COPIES}),
sh AS ({SQL_SHINGLES}),
sigs AS ({" UNION ALL ".join(_sql_band_bucket(b) for b in range(BANDS))}),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sigs a JOIN sigs b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
)
SELECT p.id_a, p.id_b,
       CAST(len(list_intersect(sa.shingles, sb.shingles)) AS INT) AS n_common,
       CAST(len(sa.shingles) AS INT) AS n_a,
       CAST(len(sb.shingles) AS INT) AS n_b,
       ROUND(CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
             / len(sa.shingles), 6) AS containment_a,
       ROUND(CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
             / len(sb.shingles), 6) AS containment_b
FROM pairs p
JOIN sh sa ON p.id_a = sa.doc_id
JOIN sh sb ON p.id_b = sb.doc_id
"""


@register("dedup_containment", CONTAINMENT_ORACLE)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup_text import shingle_containment

    docs = _with_near_copies(load_table(spark, sf_dir, "documents"))
    sets = shingle_sets(docs, "doc_id", "text", k=3).localCheckpoint(eager=False)
    sigs = minhash_from_shingles(_set_rows(sets), "doc_id", bands=BANDS, rows_per_band=ROWS_PER_BAND)
    pairs = lsh_candidate_pairs(sigs, "doc_id")
    return shingle_containment(pairs, docs, "doc_id", "text", k=3, sets=sets)


# ---------------------------------------------------------------------------
# SimHash fingerprints (16-bit, majority vote over shingle md5 high bits).
# ---------------------------------------------------------------------------
def _simhash_oracle(bits: int = 16) -> str:
    votes = ", ".join(
        f"SUM(CASE WHEN substr(h, {i + 1}, 1) >= '8' THEN 1 ELSE -1 END) AS v{i}"
        for i in range(bits)
    )
    chars = " || ".join(f"CASE WHEN v{i} > 0 THEN '1' ELSE '0' END" for i in range(bits))
    return f"""
WITH all_docs AS ({SQL_NEAR_COPIES}),
sh AS ({SQL_SHINGLES}),
exploded AS (
  SELECT doc_id, md5(unnest(shingles)) AS h FROM sh
),
votes AS (
  SELECT doc_id, {votes}, CAST(COUNT(*) AS BIGINT) AS n_shingles
  FROM exploded GROUP BY doc_id
)
SELECT doc_id, {chars} AS simhash, n_shingles FROM votes
"""


@register("dedup_simhash", _simhash_oracle())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _with_near_copies(load_table(spark, sf_dir, "documents"))
    return simhash_fingerprint(docs, "doc_id", "text", k=3, bits=16)


def _simhash_pairs_oracle(bits: int = 16, max_hamming: int = 2) -> str:
    votes = ", ".join(
        f"SUM(CASE WHEN substr(h, {i + 1}, 1) >= '8' THEN 1 ELSE -1 END) AS v{i}"
        for i in range(bits)
    )
    chars = " || ".join(f"CASE WHEN v{i} > 0 THEN '1' ELSE '0' END" for i in range(bits))
    ham = " + ".join(
        f"CASE WHEN substr(a.simhash, {i + 1}, 1) <> substr(b.simhash, {i + 1}, 1)"
        " THEN 1 ELSE 0 END"
        for i in range(bits)
    )
    # bits > 32 draws the extra nibbles from a second, domain-separated
    # md5 — byte-for-byte the simhash_fingerprint widening rule
    h_expr = (
        "md5(s)" if bits <= 32 else "md5(s) || md5('x' || s)"
    )
    return f"""
WITH all_docs AS ({SQL_NEAR_COPIES}),
sh AS ({SQL_SHINGLES}),
exploded AS (
  SELECT doc_id, {h_expr} AS h
  FROM (SELECT doc_id, unnest(shingles) AS s FROM sh)
),
votes AS (
  SELECT doc_id, {votes} FROM exploded GROUP BY doc_id
),
fp AS (SELECT doc_id, {chars} AS simhash FROM votes)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, {ham} AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE ({ham}) <= {max_hamming}
"""


# Size-adaptive candidate-join dispatch for the TEXT simhash query (the
# image_near_dup_phash pattern, r11 — VERDICT r10 #3): 64-bit / h=2
# gives 21-bit contiguous segments, so the segment pigeonhole's random
# candidates (3·n²/2^21) stay negligible until the corpus outgrows
# ~2^21 docs; past that the Manku multi-table form (n_blocks=8 →
# C(8,6)=28 tables of 48-bit keys) cuts random candidates to
# 28·n²/2^48 for a 28-row-per-doc explode (vs 3). Crossover where the
# wider explode is repaid by the collision volume it avoids:
# n ≈ tables·2^seg_width/(h+1) = 28·2^21/3 ≈ 20M docs. (The measured
# instance of this cliff is the image twin: its 32-bit/h=4 13-bit
# segments hit 460x at 500k assets — extensions.py:1021; the 64-bit
# text form's cliff is the same curve shifted 2^8 right.)
SIMHASH_MULTITABLE_MIN_DOCS = 16_000_000


@register("simhash_near_pairs", _simhash_pairs_oracle(bits=64))
def simhash_near_pairs_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded (pigeonhole) SimHash near-duplicate pairs at Hamming <= 2.
    The oracle is the all-pairs definition; the Spark plan is the banded
    segment equi-join (operators/dedup_text.py:simhash_near_pairs) whose
    candidate set provably contains every qualifying pair, with a
    footer-count dispatch to the Manku multi-table form
    (operators/dedup_text.py:simhash_near_pairs_multitable) past the
    ~20M-doc segment-key crossover (SIMHASH_MULTITABLE_MIN_DOCS).

    64-bit fingerprints (r11; previously 32): pigeonhole segments are
    bits/(max_hamming+1) wide, and a segment narrower than
    log2(n_docs) makes the bucket join quadratic — 16-bit / 5-bit
    segments measured 30 s at sf0.1 vs ~2 s with 32-bit / 11-bit
    segments, and the committed 100x frontier row for the 32-bit form
    (370.45 s at 500k docs) was already candidate-join-bound. 64-bit /
    21-bit segments push that cliff from 2^11 to 2^21 docs; both forms
    are exact generate-and-verify, so the dispatch never changes the
    result set."""
    from ..sources.parquet import table_row_count

    docs = _with_near_copies(load_table(spark, sf_dir, "documents"))
    fp = simhash_fingerprint(docs, "doc_id", "text", k=3, bits=64)
    # free footer hint: the fixture doubles the corpus (orig + near copy)
    n_docs = 2 * table_row_count(sf_dir, "documents")
    pairs = (
        simhash_near_pairs_multitable
        if n_docs > SIMHASH_MULTITABLE_MIN_DOCS
        else simhash_near_pairs
    )
    return pairs(fp, "doc_id", max_hamming=2, n_bits=64)


# ---------------------------------------------------------------------------
# Similarity search over embeddings. Quantized integer dot products
# (round(x*10000) as bigint) are order-insensitive exact sums -> identical
# cosines on both engines.
# ---------------------------------------------------------------------------
SQL_QUANT = "list_transform({v}, x -> CAST(ROUND(CAST(x AS DOUBLE) * 10000) AS BIGINT))"
SQL_DOT = (
    "list_sum(list_transform(range(1, 65), i -> ({a})[i] * ({b})[i]))"
)


def _sql_cosine_preq(qa: str, qb: str) -> str:
    """Rounded cosine over ALREADY-quantized integer lists."""
    dot_ab = SQL_DOT.format(a=qa, b=qb)
    dot_aa = SQL_DOT.format(a=qa, b=qa)
    dot_bb = SQL_DOT.format(a=qb, b=qb)
    return (
        f"ROUND(CAST({dot_ab} AS DOUBLE) / "
        f"SQRT(CAST({dot_aa} AS DOUBLE) * CAST({dot_bb} AS DOUBLE)), 6)"
    )


def _sql_cosine(a: str, b: str) -> str:
    return _sql_cosine_preq(SQL_QUANT.format(v=a), SQL_QUANT.format(v=b))


TOPK_COSINE_ORACLE = f"""
SELECT e.vec_id, {_sql_cosine('e.embedding', 'q.embedding')} AS cosine
FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
WHERE e.vec_id != 0
ORDER BY cosine DESC, e.vec_id
LIMIT 20
"""


@register("similarity_topk_cosine", TOPK_COSINE_ORACLE)
def similarity_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_topk(emb, query_id=0, k=20)


SQL_BUCKET = (
    "array_to_string(list_transform({v}[1:8], "
    "x -> CASE WHEN x > 0 THEN '1' ELSE '0' END), '')"
)

LSH_TOPK_ORACLE = f"""
SELECT e.vec_id, {_sql_cosine('e.embedding', 'q.embedding')} AS cosine
FROM embeddings e,
     (SELECT embedding, {SQL_BUCKET.format(v='embedding')} AS bucket
      FROM embeddings WHERE vec_id = 0) q
WHERE e.vec_id != 0
  AND {SQL_BUCKET.format(v='e.embedding')} = q.bucket
ORDER BY cosine DESC, e.vec_id
LIMIT 10
"""


@register("similarity_lsh_topk", LSH_TOPK_ORACLE)
def similarity_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return lsh_topk(emb, query_id=0, k=10, bits=8)


IVF_CENTROIDS, IVF_PROBE = 16, 4

IVF_ORACLE = f"""
WITH cent AS (
  SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < {IVF_CENTROIDS}
),
scored AS (
  SELECT e.vec_id, c.cid, {_sql_cosine('e.embedding', 'c.cvec')} AS ccos
  FROM embeddings e CROSS JOIN cent c
),
assigned AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
    FROM scored)
  WHERE rn = 1
),
probes AS (
  SELECT cid FROM scored WHERE vec_id = 0 ORDER BY ccos DESC, cid LIMIT {IVF_PROBE}
)
SELECT e.vec_id, {_sql_cosine('e.embedding', 'q.embedding')} AS cosine
FROM embeddings e
JOIN assigned a ON e.vec_id = a.vec_id
JOIN probes p ON a.cid = p.cid
CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
WHERE e.vec_id != 0
ORDER BY cosine DESC, e.vec_id
LIMIT 10
"""


@register("similarity_ivf_topk", IVF_ORACLE)
def similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(emb, query_id=0, k=10, n_centroids=IVF_CENTROIDS, n_probe=IVF_PROBE)


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss projection top-k (round 7): rank neighbors in
# 16-d PROJECTED space instead of the raw 64-d space — dimensionality
# reduction as a first-class pipeline step (4x cheaper distances, 4x
# smaller ANN index memory at bounded distortion; the standard preamble
# to IVF/LSH indexing at corpus scale). The sign matrix s(i,j) is a
# deterministic multiplicative-hash formula mod a prime
# (operators/similarity.jl_sign), so the oracle reproduces the SAME
# matrix relationally (unnest + group) while Spark evaluates it as
# nested JVM-side higher-order expressions; all arithmetic is exact
# int64 until the final cosine division, ROUND 6.
#
# Scale: projection is per-row narrow work (interpreted higher-order
# expressions — JVM-side, no Python boundary, though outside
# whole-stage codegen; no shuffle); query side is a broadcast 1-row build;
# ranking is TakeOrderedAndProject. At 100 TB the projected column is
# written once at ingest and every downstream distance pass gets the
# 4x saving.
# ---------------------------------------------------------------------------
JL_IN_DIM, JL_OUT_DIM = 64, 16

_SQL_JL_Q = SQL_QUANT.format(v="embedding")
_SQL_JL_SIGN = (
    "CASE WHEN (CAST(i AS BIGINT) * 73856093 + CAST(j AS BIGINT) * 19349663"
    " + CAST(i AS BIGINT) * CAST(j AS BIGINT) * 83492791) % 97 < 48"
    " THEN 1 ELSE -1 END"
)
_SQL_JL_DOT16 = "list_sum(list_transform(range(1, {n}), i -> ({a})[i] * ({b})[i]))".format(
    n=JL_OUT_DIM + 1, a="{a}", b="{b}"
)

JL_TOPK_ORACLE = f"""
WITH proj AS (
  SELECT vec_id,
         list_transform(range(0, {JL_OUT_DIM}), j ->
           list_sum(list_transform(range(0, {JL_IN_DIM}), i ->
             ({_SQL_JL_Q})[CAST(i AS INT) + 1] * {_SQL_JL_SIGN}))) AS pv
  FROM embeddings
)
SELECT e.vec_id,
       ROUND(CAST({_SQL_JL_DOT16.format(a='e.pv', b='q.pv')} AS DOUBLE)
             / SQRT(CAST({_SQL_JL_DOT16.format(a='e.pv', b='e.pv')} AS DOUBLE)
                    * CAST({_SQL_JL_DOT16.format(a='q.pv', b='q.pv')} AS DOUBLE)), 6)
         AS cosine_proj
FROM proj e, (SELECT pv FROM proj WHERE vec_id = 0) q
WHERE e.vec_id != 0
ORDER BY cosine_proj DESC, e.vec_id
LIMIT 20
"""


@register("jl_projection_topk", JL_TOPK_ORACLE)
def jl_projection_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import jl_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return jl_topk(emb, query_id=0, k=20, in_dim=JL_IN_DIM, out_dim=JL_OUT_DIM)


# ---------------------------------------------------------------------------
# NDCG@10 of the cosine ranking (round 7, wave 7): retrieval / ANN
# ranking QUALITY against label relevance — for each of the first 8
# query vectors, rank all other vectors by exact quantized cosine and
# score the top 10 with rel=1 iff the candidate shares the query's
# label. The ML-evaluation companion to auc_roc, for RANKED retrieval.
#
# Float determinism: the 10 log2 rank discounts and their prefix sums
# (the ideal-DCG table) are PRECOMPUTED PYTHON LITERALS embedded
# verbatim in both the Spark expression and the oracle SQL — neither
# engine calls log at runtime, and DCG is a fixed-order 10-term sum of
# identical double literals, so scores are bit-identical. Which ranks
# are relevant rides an exact integer BITMASK (sum of rel<<rank — an
# order-insensitive integer aggregation), so no float is ever
# aggregated across rows.
#
# Scale: queries are an 8-row broadcast; candidate scoring is one
# fan-out scan; the per-query top-10 is a rank window filtered to
# rank<=10 — Spark executes it as map-side WindowGroupLimit (each task
# keeps 10 rows per query before the shuffle); label totals are a
# label-cardinality broadcast. Output: 8 rows.
# ---------------------------------------------------------------------------
NDCG_QUERIES = 8
NDCG_K = 10
# 1/log2(i+1) for rank i = 1..10, and their running (ideal-DCG) sums —
# computed once in Python, full-precision repr round-trips exactly
_NDCG_DISCOUNTS = (
    1.0, 0.6309297535714575, 0.5, 0.43067655807339306, 0.38685280723454163,
    0.3562071871080222, 0.3333333333333333, 0.31546487678572877,
    0.3010299956639812, 0.2890648263178879,
)
_NDCG_IDCG = (
    1.0, 1.6309297535714575, 2.1309297535714578, 2.5616063116448506,
    2.9484591188793923, 3.3046663059874146, 3.637999639320748,
    3.953464516106477, 4.254494511770458, 4.543559338088346,
)


def _dcg_sum(shift_fmt: str) -> str:
    """Fixed-order 10-term DCG sum from the rank bitmask; shift_fmt is
    the engine's right-shift syntax with an {i} placeholder."""
    return " + ".join(
        f"(CAST({shift_fmt.format(i=i + 1)} % 2 AS DOUBLE) * {d!r})"
        for i, d in enumerate(_NDCG_DISCOUNTS)
    )


_SPARK_DCG = _dcg_sum("shiftright(mask, {i})")
_DUCK_DCG = _dcg_sum("(mask >> {i})")
_IDCG_LIST = ", ".join(repr(x) for x in _NDCG_IDCG)

NDCG_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS qid, embedding AS qvec, label AS qlabel
  FROM embeddings WHERE vec_id < {NDCG_QUERIES}
),
lc AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n FROM embeddings GROUP BY label),
scored AS (
  SELECT q.qid, q.qlabel, e.vec_id,
         CASE WHEN e.label = q.qlabel THEN 1 ELSE 0 END AS rel,
         {_sql_cosine('e.embedding', 'q.qvec')} AS cosine
  FROM embeddings e JOIN q ON e.vec_id != q.qid
),
ranked AS (
  SELECT qid, qlabel, rel,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rk
  FROM scored
),
masked AS (
  SELECT qid, qlabel,
         CAST(SUM(rel * (CAST(1 AS BIGINT) << rk)) AS BIGINT) AS mask
  FROM ranked WHERE rk <= {NDCG_K} GROUP BY qid, qlabel
)
SELECT m.qid AS query_id,
       CAST(lc.n - 1 AS BIGINT) AS n_rel,
       ROUND({_DUCK_DCG}, 6) AS dcg10,
       CASE WHEN lc.n - 1 >= 1
            THEN ROUND(({_DUCK_DCG})
                       / ([{_IDCG_LIST}][CAST(LEAST({NDCG_K}, lc.n - 1) AS INT)]), 6)
            ELSE 0.0 END AS ndcg10
FROM masked m JOIN lc ON lc.label = m.qlabel
"""


@register("ndcg_at_k", NDCG_ORACLE)
def ndcg_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import cosine_q_pre, dot_q, quantized

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < NDCG_QUERIES).select(
        F.col("vec_id").alias("qid"),
        quantized(F.col("embedding")).alias("qv"),
        F.col("label").alias("qlabel"),
    ).withColumn("__qn2", dot_q(F.col("qv"), F.col("qv")))
    lc = emb.groupBy("label").agg(F.count("*").alias("n"))
    # norms precomputed per side (the panel-scoring discipline: one
    # interpreted-HOF dot per (row, query) pair instead of three)
    cand = emb.select(
        "vec_id", quantized(F.col("embedding")).alias("cv"), "label"
    ).withColumn("__cn2", dot_q(F.col("cv"), F.col("cv")))
    scored = (
        cand.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "qlabel",
            "vec_id",
            F.when(F.col("label") == F.col("qlabel"), 1).otherwise(0).alias("rel"),
            F.round(
                cosine_q_pre(
                    F.col("cv"), F.col("__cn2"), F.col("qv"), F.col("__qn2")
                ),
                6,
            ).alias("cosine"),
        )
    )
    rk = F.row_number().over(
        W.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    )
    masked = (
        scored.withColumn("rk", rk)
        .filter(F.col("rk") <= NDCG_K)
        .groupBy("qid", "qlabel")
        .agg(
            F.sum(F.col("rel") * F.expr("shiftleft(CAST(1 AS BIGINT), rk)")).alias(
                "mask"
            )
        )
    )
    return masked.join(F.broadcast(lc), masked["qlabel"] == lc["label"]).select(
        F.col("qid").alias("query_id"),
        (F.col("n") - 1).alias("n_rel"),
        F.round(F.expr(_SPARK_DCG), 6).alias("dcg10"),
        F.when(
            F.col("n") - 1 >= 1,
            F.round(
                F.expr(_SPARK_DCG)
                / F.element_at(
                    F.expr(f"array({_IDCG_LIST})"),
                    F.least(F.lit(NDCG_K), F.col("n") - 1).cast("int"),
                ),
                6,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("ndcg10"),
    )


# banded sign-LSH (round-6 fix): 4 bands x 8 sign bits at oracle scale;
# the operator widens band_bits with the footer row count (see
# operators/similarity.neardup_pairs — at sf0.01's 500 vectors the
# adaptive width resolves to exactly these oracle parameters)
_ND_BANDS, _ND_BITS = 4, 8

# Registered cosine threshold (round-8 de-vacuation, VERDICT r7 #2):
# the synthetic embeddings contain no true near-duplicates — the
# HIGHEST candidate cosine the banded prefilter surfaces at sf0.01 is
# ~0.443 (sf0.1 similar) — so the previous 0.8 cut emitted 0 rows at
# every driver SF and the green rows certified nothing (r2/r5/r7 all
# vacuous). Registering at 0.35 makes the driver row exercise the
# verify arithmetic on ~20 real pairs; strict-threshold semantics
# (candidate pruning, band guards, exact flip points) stay pinned by
# the planted tests below (test_extensions.py
# test_neardup_low_dim_bands_null_not_collide at 0.99/-1.0).
NEARDUP_THRESHOLD = 0.35

_SQL_ND_SIGS = " UNION ALL ".join(
    "SELECT vec_id, {i} AS band, array_to_string(list_transform("
    "embedding[{lo}:{hi}], x -> CASE WHEN x > 0 THEN '1' ELSE '0' END), '')"
    " AS key FROM embeddings".format(i=i, lo=i * _ND_BITS + 1, hi=(i + 1) * _ND_BITS)
    for i in range(_ND_BANDS)
)

NEARDUP_ORACLE = f"""
WITH sigs AS ({_SQL_ND_SIGS}),
pairs AS (
  SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b
  FROM sigs a JOIN sigs c
    ON a.band = c.band AND a.key = c.key AND a.vec_id < c.vec_id
)
SELECT p.id_a, p.id_b, {_sql_cosine('x.embedding', 'y.embedding')} AS cosine
FROM pairs p
JOIN embeddings x ON p.id_a = x.vec_id
JOIN embeddings y ON p.id_b = y.vec_id
WHERE {_sql_cosine('x.embedding', 'y.embedding')} > {NEARDUP_THRESHOLD}
"""


@register("embedding_neardup_pairs", NEARDUP_ORACLE)
def embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.parquet import table_row_count

    emb = load_table(spark, sf_dir, "embeddings")
    return neardup_pairs(
        emb,
        threshold=NEARDUP_THRESHOLD,
        bands=_ND_BANDS,
        band_bits=_ND_BITS,
        n_hint=table_row_count(sf_dir, "embeddings"),
    )


# ---------------------------------------------------------------------------
# Temporal joins (extensions; DuckDB verifies with its native ASOF JOIN
# and a plain theta self-join — both fine at oracle scale, neither shape
# survives 100 TB, which is why operators/temporal.py exists).
# ---------------------------------------------------------------------------
ASOF_ORACLE = """
SELECT p.event_id, p.user_id, p.ts, v.ts AS asof_ts, v.value AS asof_value
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
  ON p.user_id = v.user_id AND p.ts >= v.ts
"""


@register("asof_join_attribution", ASOF_ORACLE)
def asof_join_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchase-to-last-view attribution: for every purchase event, the
    user's most recent view at or before the purchase timestamp."""
    events = load_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = events.filter(F.col("event_type") == "view").select("user_id", "ts", "value")
    return asof_join(purchases, views, on=["user_id"], ts="ts", values=["value"])


RANGE_GAP_S = 3600

RANGE_ORACLE = f"""
SELECT a.user_id, a.event_id AS id_a, b.event_id AS id_b,
       DATE_DIFF('microsecond', a.ts, b.ts) / 1000000.0 AS gap_s
FROM events a
JOIN events b
  ON a.user_id = b.user_id AND a.event_id < b.event_id
 AND ABS(DATE_DIFF('microsecond', a.ts, b.ts)) <= CAST({RANGE_GAP_S} AS BIGINT) * 1000000
"""


@register("range_join_event_pairs", RANGE_ORACLE)
def range_join_event_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same-user event pairs within an hour of each other, via the
    bucketed equi-join prefilter (never a cartesian range join)."""
    events = load_table(spark, sf_dir, "events")
    return range_join_pairs(events, key="user_id", ts="ts", id_col="event_id",
                            max_gap_s=RANGE_GAP_S)


# ---------------------------------------------------------------------------
# Skew mitigation: salted two-phase aggregation. The oracle is the PLAIN
# single-phase aggregate — salting must be invisible in the result.
# ---------------------------------------------------------------------------
SALTED_ORACLE = """
SELECT event_type,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM events
GROUP BY event_type
"""


@register("salted_aggregation", SALTED_ORACLE)
def salted_aggregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.event_type is pathologically low-cardinality (a handful of
    values over the whole table) — exactly the shape where one hot key
    pins a reducer. The salted two-phase plan splits each key 8 ways."""
    events = load_table(spark, sf_dir, "events")
    return salted_sum_count(
        events, keys=["event_type"], value_col="value", salt_from="event_id", n_salt=8
    )


# ---------------------------------------------------------------------------
# Text analysis.
# ---------------------------------------------------------------------------
LANGID_ORACLE = r"""
WITH v AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|in)\b')) AS INT) AS votes_en,
         CAST(len(regexp_extract_all(lower(text), '\b(el|la|de|que|los)\b')) AS INT) AS votes_es,
         CAST(len(regexp_extract_all(lower(text), '\b(der|die|und|das|ist)\b')) AS INT) AS votes_de,
         CAST(len(regexp_extract_all(lower(text), '\b(le|la|les|et|des)\b')) AS INT) AS votes_fr
  FROM documents
)
SELECT doc_id, votes_en, votes_es, votes_de, votes_fr,
       CASE WHEN votes_en > 0 AND votes_en = GREATEST(votes_en, votes_es, votes_de, votes_fr) THEN 'en'
            WHEN votes_es > 0 AND votes_es = GREATEST(votes_en, votes_es, votes_de, votes_fr) THEN 'es'
            WHEN votes_de > 0 AND votes_de = GREATEST(votes_en, votes_es, votes_de, votes_fr) THEN 'de'
            WHEN votes_fr > 0 AND votes_fr = GREATEST(votes_en, votes_es, votes_de, votes_fr) THEN 'fr'
            ELSE 'und' END AS lang_pred
FROM v
"""


@register("lang_id_ngram", LANGID_ORACLE)
def lang_id_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lang_id(load_table(spark, sf_dir, "documents"), "doc_id", "text")


QUALITY_ORACLE = r"""
SELECT doc_id,
       CAST(length(text) AS INT) AS n_chars,
       CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS INT) AS n_tokens,
       CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS INT) AS n_punct,
       CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|in)\b')) AS INT) AS n_stopwords,
       ROUND(CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE) / length(text), 6) AS punct_ratio,
       ROUND(CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|in)\b')) AS DOUBLE)
             / len(regexp_split_to_array(trim(lower(text)), '\s+')), 6) AS stopword_ratio,
       ROUND(CAST(length(text) AS DOUBLE)
             / len(regexp_split_to_array(trim(lower(text)), '\s+')), 6) AS chars_per_token
FROM documents
"""


@register("text_quality_score", QUALITY_ORACLE)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_features(load_table(spark, sf_dir, "documents"), "doc_id", "text")


TOKEN_ORACLE = r"""
SELECT doc_id,
       CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS INT) AS ws_tokens,
       CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS INT) AS bpe_tokens
FROM documents
"""


@register("token_count", TOKEN_ORACLE)
def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_counts(load_table(spark, sf_dir, "documents"), "doc_id", "text")


FINGERPRINT_ORACLE = r"""
WITH all_docs AS (SELECT doc_id, text FROM documents),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(words) - 1),
                                      i -> array_to_string(words[i:i+2], ' '))) AS shingles
  FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS words
        FROM all_docs)
  WHERE len(words) >= 3
)
SELECT d.doc_id,
       md5(regexp_replace(trim(lower(d.text)), '\s+', ' ', 'g')) AS content_md5,
       list_min(list_transform(s.shingles, x -> md5(x))) AS min_shingle_hash
FROM documents d LEFT JOIN sh s ON d.doc_id = s.doc_id
"""


@register("doc_fingerprint", FINGERPRINT_ORACLE)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fingerprints(load_table(spark, sf_dir, "documents"), "doc_id", "text", k=3)


REPETITION_ORACLE = r"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS words
  FROM documents
),
base AS (
  SELECT doc_id, CAST(len(words) AS INT) AS n_words,
         CAST(len(list_distinct(words)) AS INT) AS n_distinct_words
  FROM w WHERE len(words) >= 2
),
big AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(words)),
                               i -> array_to_string(words[i:i+1], ' '))) AS bigram
  FROM w WHERE len(words) >= 2
),
cnts AS (SELECT doc_id, bigram, COUNT(*) AS cnt FROM big GROUP BY doc_id, bigram),
tops AS (SELECT doc_id, CAST(MAX(cnt) AS BIGINT) AS top_bigram_cnt FROM cnts GROUP BY doc_id)
SELECT b.doc_id, b.n_words, b.n_distinct_words,
       ROUND(CAST(b.n_distinct_words AS DOUBLE) / b.n_words, 6) AS type_token_ratio,
       t.top_bigram_cnt,
       ROUND(CAST(t.top_bigram_cnt AS DOUBLE) / (b.n_words - 1), 6) AS top_bigram_frac
FROM base b JOIN tops t USING (doc_id)
"""


@register("quality_repetition", REPETITION_ORACLE)
def quality_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    return repetition_features(load_table(spark, sf_dir, "documents"), "doc_id", "text")


# Deterministically plant PII so the scrubber has real positives: every
# 7th doc gets an email, a URL, and an SSN-shaped id appended.
def _with_pii(docs: DataFrame) -> DataFrame:
    t = F.col("text")
    d = F.col("doc_id").cast("string")
    planted = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(
            t,
            F.lit(" contact user"), d,
            F.lit("@example.com via https://example.com/d/"), d,
            F.lit(" ref 123-45-6789"),
        ),
    ).otherwise(t)
    return docs.select("doc_id", planted.alias("text"))


SQL_WITH_PII = """
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0
              THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                   || '@example.com via https://example.com/d/'
                   || CAST(doc_id AS VARCHAR) || ' ref 123-45-6789'
              ELSE text END AS text
  FROM documents
"""

_SQL_EMAIL = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
_SQL_URL = "https?://[^\\s]+"
_SQL_ID = "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b"

PII_ORACLE = f"""
WITH all_docs AS ({SQL_WITH_PII})
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{_SQL_EMAIL}')) AS INT) AS n_emails,
       CAST(len(regexp_extract_all(text, '{_SQL_URL}')) AS INT) AS n_urls,
       CAST(len(regexp_extract_all(text, '{_SQL_ID}')) AS INT) AS n_ids,
       md5(regexp_replace(regexp_replace(regexp_replace(text,
           '{_SQL_EMAIL}', '<EMAIL>', 'g'),
           '{_SQL_URL}', '<URL>', 'g'),
           '{_SQL_ID}', '<ID>', 'g')) AS scrubbed_md5
FROM all_docs
"""


@register("pii_scrub", PII_ORACLE)
def pii_scrub_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pii_scrub(_with_pii(load_table(spark, sf_dir, "documents")), "doc_id", "text")


DECONTAM_ORACLE = r"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS words
  FROM documents
),
sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(range(1, len(words) - 3),
                i -> array_to_string(words[i:i+4], ' ')))) AS s
  FROM w WHERE len(words) >= 5
),
bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0),
corpus AS (SELECT doc_id, s FROM sh WHERE doc_id % 97 <> 0)
SELECT c.doc_id, CAST(COUNT(DISTINCT c.s) AS BIGINT) AS n_hits
FROM corpus c JOIN bench b ON c.s = b.s
GROUP BY c.doc_id
"""


@register("decontaminate_ngrams", DECONTAM_ORACLE)
def decontaminate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval n-gram decontamination: benchmark = every 97th doc,
    corpus = the rest; flag corpus docs sharing any 5-word shingle."""
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    return contamination(corpus, bench, "doc_id", "text", k=5)


# ---------------------------------------------------------------------------
# Multimodal plumbing: binary assets -> Arrow-batched mapInPandas feature
# extraction (deterministic fake extractor; decode itself is stubbed —
# operators/multimodal.py). The oracle recomputes the byte-level features
# in SQL (testdata text is ASCII, so codepoints == bytes).
# ---------------------------------------------------------------------------
MULTIMODAL_ORACLE = """
SELECT doc_id AS asset_id,
       CAST(octet_length(encode(text)) AS INT) AS n_bytes,
       CAST(ascii(substr(text, 1, 1)) AS INT) AS first_byte,
       CAST(ascii(substr(text, length(text), 1)) AS INT) AS last_byte,
       CAST(list_sum(list_transform(range(1, 65), i -> ascii(substr(text, i, 1)))) AS BIGINT) AS feature_sum
FROM documents
"""


@register("multimodal_features", MULTIMODAL_ORACLE)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    assets = documents_as_assets(load_table(spark, sf_dir, "documents"))
    return extract_features(assets)


# ---------------------------------------------------------------------------
# Image near-dup via dHash perceptual fingerprints (round 10, VERDICT
# r9 #5): the IMAGE member of the dedup family — text has four schemes
# and embeddings two, but the multimodal binary columns had none. The
# pipeline is real dHash: resample each asset to a 9x8 byte grid (the
# resample goes through the stubbed multimodal resizer — fake_resize's
# tile/truncate here, Pillow at production; the hash arithmetic around
# it is the real thing), emit 64 bits of horizontally-adjacent pixel
# comparisons, then band the fingerprint EXACTLY like SimHash
# (pigeonhole segments -> equi-join, operators/dedup_text.py:366 —
# never all-pairs) and verify candidates by full Hamming distance.
#
# Fixture: a 1-in-2 sample of documents-as-assets plus one PIXEL-LEVEL
# MUTATION of each (first byte replaced) — a mutated copy moves at most
# a few grid bytes, each grid byte at most 2 dHash bits, so every
# planted pair sits within MAX_HAMMING and must be caught; unrelated
# assets differ in ~32 bits. The oracle recomputes grids byte-for-byte
# in SQL (ASCII testdata: codepoints == bytes, the multimodal_features
# precedent) and brute-forces all pairs — a cross-formulation check of
# the banded join's exactness, like the winnowing oracle.
#
# Scale: hashing is one Arrow-batched mapInPandas pass (hash + resize
# share the single pass over the payload bytes); banding is the
# certified SimHash pigeonhole (5 segments of >= 12 bits — segment
# collision odds 2^-12 keep candidates linear); verification is 64
# integer comparisons per CANDIDATE. The oracle's quadratic form exists
# only driver-side at sf0.01.
# ---------------------------------------------------------------------------
PHASH_MAX_HAMMING = 4
_PHASH_GRID_W, _PHASH_GRID_H = 9, 8
_PHASH_BITS = (_PHASH_GRID_W - 1) * _PHASH_GRID_H

SQL_PIXEL_MUTATIONS = f"""
  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0
  UNION ALL
  SELECT doc_id + {ID_OFFSET} AS doc_id, 'Q' || substr(text, 2) AS text
  FROM documents WHERE doc_id % 2 = 0
"""


def _phash_oracle() -> str:
    B = PHASH_MAX_HAMMING
    W, H, NB = _PHASH_GRID_W, _PHASH_GRID_H, _PHASH_BITS
    return f"""
WITH all_docs AS ({SQL_PIXEL_MUTATIONS}),
grids AS (
  SELECT doc_id AS asset_id,
         list_transform(range({W * H}),
           i -> ascii(substr(text, CAST((i % length(text)) + 1 AS BIGINT), 1))) AS g
  FROM all_docs
),
ph AS (
  SELECT asset_id,
         array_to_string(list_transform(range({NB}),
           b -> CASE WHEN g[CAST((b // {W - 1}) * {W} + (b % {W - 1}) + 1 AS BIGINT)]
                        < g[CAST((b // {W - 1}) * {W} + (b % {W - 1}) + 2 AS BIGINT)]
                     THEN '1' ELSE '0' END), '') AS phash
  FROM grids
),
pairs AS (
  SELECT a.asset_id AS id_a, b.asset_id AS id_b,
         CAST(len(list_filter(range({NB}),
           i -> substr(a.phash, CAST(i + 1 AS BIGINT), 1)
             <> substr(b.phash, CAST(i + 1 AS BIGINT), 1))) AS INT) AS hamming
  FROM ph a JOIN ph b ON a.asset_id < b.asset_id
)
SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= {B}
"""


PHASH_NEAR_DUP_ORACLE = _phash_oracle()


# Size-adaptive candidate-join dispatch: the contiguous-segment
# pigeonhole's 13-bit keys degenerate toward n²/2^13 candidates once
# the asset count outgrows the key space (MEASURED: 500k assets drove
# it to 2 873 s at the 100× frontier — 460× over 1× — nearly all
# candidate-join work); past this bound the Manku-style multi-table
# form (C(8,4)=70 tables of 32-bit keys) generates near-zero random
# candidates for a 14× wider explode. Crossover where the explode
# overtakes the segment form's collision volume: n ≈ 70·2^13/5 ≈ 115k.
PHASH_MULTITABLE_MIN_ASSETS = 100_000


@register("image_near_dup_phash", PHASH_NEAR_DUP_ORACLE)
def image_near_dup_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup_text import (
        simhash_near_pairs,
        simhash_near_pairs_multitable,
    )
    from ..operators.multimodal import perceptual_hash
    from ..sources.parquet import table_row_count

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 2 == 0
    )
    mutated = docs.select(
        (F.col("doc_id") + ID_OFFSET).alias("doc_id"),
        F.concat(F.lit("Q"), F.expr("substr(text, 2)")).alias("text"),
    )
    assets = documents_as_assets(docs.select("doc_id", "text").unionByName(mutated))
    fp = perceptual_hash(
        assets, grid_w=_PHASH_GRID_W, grid_h=_PHASH_GRID_H
    ).select("asset_id", F.col("phash").alias("simhash"))
    # free footer hint: assets = 2 * (docs/2) = the documents count
    n_assets = table_row_count(sf_dir, "documents")
    pairs = (
        simhash_near_pairs_multitable
        if n_assets > PHASH_MULTITABLE_MIN_ASSETS
        else simhash_near_pairs
    )
    return pairs(
        fp, "asset_id", max_hamming=PHASH_MAX_HAMMING, n_bits=_PHASH_BITS
    ).withColumn("hamming", F.col("hamming").cast("int"))


# ---------------------------------------------------------------------------
# Salted skew join (extension): result must be row-identical to the plain
# inner join — the salt is invisible to consumers.
# ---------------------------------------------------------------------------
SALTED_JOIN_ORACLE = """
SELECT l.l_orderkey, l.l_linenumber, o.o_orderpriority,
       CAST(ROUND(l.l_extendedprice * 100) AS BIGINT) AS price_cents
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderstatus = 'F'
"""


@register("salted_skew_join", SALTED_JOIN_ORACLE)
def salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_join

    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .withColumnRenamed("o_orderkey", "l_orderkey")
    )
    # salt from l_partkey: high-cardinality, so all n_salt buckets fill
    joined = salted_join(lineitem, orders, "l_orderkey", "l_partkey", n_salt=8)
    return joined.select(
        "l_orderkey",
        "l_linenumber",
        "o_orderpriority",
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("price_cents"),
    )


# ---------------------------------------------------------------------------
# Connected-components clustering of the LSH near-dup pairs: pairs say
# "A~B", retention needs groups (keep exactly one of each transitive
# cluster). Oracle: recursive CTE computing min-reachable-id per node —
# the same unique fixpoint the iterative Spark loop converges to.
# ---------------------------------------------------------------------------
CC_ORACLE = f"""
WITH RECURSIVE all_docs AS ({SQL_NEAR_COPIES}),
sh AS ({SQL_SHINGLES}),
sigs AS ({" UNION ALL ".join(_sql_band_bucket(b) for b in range(BANDS))}),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sigs a JOIN sigs b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach AS (
  SELECT src AS node, src AS lbl FROM edges
  UNION
  SELECT e.src AS node, r.lbl FROM edges e JOIN reach r ON e.dst = r.node
)
SELECT node, MIN(lbl) AS component FROM reach GROUP BY node
"""


@register("dedup_connected_components", CC_ORACLE)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _with_near_copies(load_table(spark, sf_dir, "documents"))
    sigs = minhash_signatures(
        docs, "doc_id", "text", k=3, bands=BANDS, rows_per_band=ROWS_PER_BAND
    )
    pairs = lsh_candidate_pairs(sigs, "doc_id")
    return connected_components(pairs)


# ---------------------------------------------------------------------------
# Sub-document (paragraph-style) segment dedup: first occurrence of each
# 20-word segment wins corpus-wide; documents reassemble from surviving
# segments (fully-duplicate docs vanish). Exact copies planted at
# doc_id+ID_OFFSET give every original's segments a duplicate.
# ---------------------------------------------------------------------------
SEGMENT_WORDS = 20

SEGDEDUP_ORACLE = rf"""
WITH all_docs AS ({SQL_EXACT_COPIES}),
words AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
  FROM all_docs WHERE len(trim(text)) > 0
),
segs AS (
  SELECT doc_id, CAST(i AS INT) AS seg_idx,
         array_to_string(list_slice(ws, CAST(i * {SEGMENT_WORDS} + 1 AS BIGINT),
                                    CAST((i + 1) * {SEGMENT_WORDS} AS BIGINT)), ' ') AS seg_text
  FROM words, UNNEST(range(CAST(ceil(len(ws) / {SEGMENT_WORDS}.0) AS BIGINT))) AS t(i)
),
kept AS (
  SELECT doc_id, seg_idx, seg_text,
         ROW_NUMBER() OVER (PARTITION BY md5(seg_text) ORDER BY doc_id, seg_idx) AS rn
  FROM segs
)
SELECT doc_id, string_agg(seg_text, ' ' ORDER BY seg_idx) AS dedup_text,
       CAST(COUNT(*) AS BIGINT) AS n_kept
FROM kept WHERE rn = 1 GROUP BY doc_id
"""


@register("dedup_segments", SEGDEDUP_ORACLE)
def dedup_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _with_exact_copies(load_table(spark, sf_dir, "documents"))
    return segment_dedup(docs, "doc_id", "text", seg_words=SEGMENT_WORDS)


# ---------------------------------------------------------------------------
# Retention decision per duplicate cluster: from LSH pairs through
# connected components to ONE survivor per cluster — the longest text
# wins (near-copies are strictly shorter), ties broken by lowest id.
# ---------------------------------------------------------------------------
KEEP_BEST_ORACLE = f"""
WITH RECURSIVE all_docs AS ({SQL_NEAR_COPIES}),
sh AS ({SQL_SHINGLES}),
sigs AS ({" UNION ALL ".join(_sql_band_bucket(b) for b in range(BANDS))}),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sigs a JOIN sigs b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach AS (
  SELECT src AS node, src AS lbl FROM edges
  UNION
  SELECT e.src AS node, r.lbl FROM edges e JOIN reach r ON e.dst = r.node
),
comp AS (SELECT node, MIN(lbl) AS component FROM reach GROUP BY node),
ranked AS (
  SELECT c.component, d.doc_id,
         ROW_NUMBER() OVER (PARTITION BY c.component
                            ORDER BY length(d.text) DESC, d.doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY c.component) AS n_members
  FROM comp c JOIN all_docs d ON c.node = d.doc_id
)
SELECT component, doc_id AS keep_id, CAST(n_members AS BIGINT) AS n_members
FROM ranked WHERE rn = 1
"""


@register("dedup_keep_best", KEEP_BEST_ORACLE)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _with_near_copies(load_table(spark, sf_dir, "documents"))
    sigs = minhash_signatures(
        docs, "doc_id", "text", k=3, bands=BANDS, rows_per_band=ROWS_PER_BAND
    )
    labels = connected_components(lsh_candidate_pairs(sigs, "doc_id"))
    return keep_best_per_component(labels, docs, "doc_id", F.length("text"))


# ---------------------------------------------------------------------------
# Per-label embedding centroids: element-wise average over quantized
# integer units — exactly associative, so bit-identical on any
# partitioning (float summation order is not).
# ---------------------------------------------------------------------------
CENTROID_QUANT = 1_000_000

CENTROID_ORACLE = f"""
SELECT label, CAST(i AS INT) AS dim,
       AVG(CAST(ROUND(CAST(embedding[CAST(i + 1 AS BIGINT)] AS DOUBLE) * {CENTROID_QUANT}) AS BIGINT))
         / {CENTROID_QUANT} AS centroid
FROM embeddings, UNNEST(range(len(embedding))) AS t(i)
GROUP BY label, dim
"""


@register("embedding_centroids", CENTROID_ORACLE)
def embedding_centroids_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_centroids(emb, "label", "embedding", quant=CENTROID_QUANT)


# ---------------------------------------------------------------------------
# End-to-end corpus preparation in ONE DAG — the flagship training-data
# composite: quality gate (min token count) -> exact dedup (first doc
# per content hash) -> near-dup clustering (MinHash LSH -> connected
# components -> keep the longest member) -> deterministic split
# assignment. A user of the engine runs their whole prep with one call;
# every stage is the already-tested operator, so the composite's cost is
# the sum of its parts (the deduped relation is checkpointed once and
# feeds signature generation, retention, and the survivor joins).
# ---------------------------------------------------------------------------
PREP_MIN_TOKENS = 10

from .training import _BUCKET_SQL as _PREP_BUCKET_SQL  # noqa: E402
from .training import _bucket as _prep_bucket  # noqa: E402

PREP_ORACLE = rf"""
WITH RECURSIVE raw_docs AS ({SQL_NEAR_COPIES}),
quality AS (
  SELECT doc_id, text FROM raw_docs
  WHERE len(regexp_split_to_array(trim(lower(text)), '\s+')) >= {PREP_MIN_TOKENS}
),
all_docs AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text,
           ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM quality
  ) WHERE rn = 1
),
sh AS ({SQL_SHINGLES}),
sigs AS ({" UNION ALL ".join(_sql_band_bucket(b) for b in range(BANDS))}),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sigs a JOIN sigs b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach AS (
  SELECT src AS node, src AS lbl FROM edges
  UNION
  SELECT e.src AS node, r.lbl FROM edges e JOIN reach r ON e.dst = r.node
),
comp AS (SELECT node, MIN(lbl) AS component FROM reach GROUP BY node),
ranked AS (
  SELECT c.component, c.node,
         ROW_NUMBER() OVER (PARTITION BY c.component
                            ORDER BY length(d.text) DESC, d.doc_id) AS rn
  FROM comp c JOIN all_docs d ON c.node = d.doc_id
),
survivors AS (
  SELECT doc_id, text FROM all_docs WHERE doc_id NOT IN (SELECT node FROM comp)
  UNION ALL
  SELECT d.doc_id, d.text FROM ranked r JOIN all_docs d ON r.node = d.doc_id
  WHERE r.rn = 1
)
SELECT doc_id,
       CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS INT) AS n_tokens,
       CASE WHEN {_PREP_BUCKET_SQL} < 80 THEN 'train'
            WHEN {_PREP_BUCKET_SQL} < 90 THEN 'validation'
            ELSE 'test' END AS split
FROM survivors
"""


@register("prepare_corpus", PREP_ORACLE)
def prepare_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = _with_near_copies(load_table(spark, sf_dir, "documents"))
    words = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    quality = docs.filter(F.size(words) >= PREP_MIN_TOKENS)
    # exact dedup as min_by over the content hash instead of the
    # row_number window — identical keep-lowest-doc_id rows, but the
    # hash aggregate's map-side partial dedups co-located copies before
    # the exchange and the per-key sort disappears (r12; see
    # _funnel_stages for the frontier A/B)
    q_cols = quality.columns
    deduped = (
        quality.groupBy(F.md5("text").alias("__h"))
        .agg(F.min_by(F.struct(*q_cols), F.col("doc_id")).alias("__r"))
        .select(*[F.col(f"__r.{c}").alias(c) for c in q_cols])
        # one materialization feeds signatures, retention scoring, and
        # the survivor joins (three consumers, one computation)
        .localCheckpoint(eager=False)
    )
    sigs = minhash_signatures(
        deduped, "doc_id", "text", k=3, bands=BANDS, rows_per_band=ROWS_PER_BAND
    )
    labels = connected_components(lsh_candidate_pairs(sigs, "doc_id"))
    keep = keep_best_per_component(labels, deduped, "doc_id", F.length("text"))
    in_comp = labels.select(F.col("node").alias("doc_id"))
    keepers = keep.select(F.col("keep_id").alias("doc_id"))
    survivors = (
        deduped.join(in_comp, "doc_id", "left_anti")
        .select("doc_id", "text")
        .unionByName(deduped.join(keepers, "doc_id", "left_semi").select("doc_id", "text"))
    )
    bucket = _prep_bucket(F.col("doc_id"))
    return survivors.select(
        "doc_id",
        F.size(F.split(F.trim(F.lower("text")), r"\s+")).alias("n_tokens"),
        F.when(bucket < 80, "train")
        .when(bucket < 90, "validation")
        .otherwise("test")
        .alias("split"),
    )


# ---------------------------------------------------------------------------
# Incremental aggregate maintenance from the change feed (materialized-view
# refresh). End-to-end through a real TableStore: seed 80% of the fact,
# initialize the aggregate, then APPEND the remaining 20% and UPDATE a
# slice into a different group — the refresh folds only the CDC slice
# (signed pre/post-image deltas, operators/incremental.py), never
# rescanning the fact. The oracle is the full recompute over the final
# fact state, which the maintained table must match bit-for-bit (integer-
# cents sums are exactly associative, so fold == recompute).
#
# The group move (event_type -> 'relabeled') is a pure string change: it
# exercises the subtract-from-old-group / add-to-new-group path with zero
# cross-engine float risk.
# ---------------------------------------------------------------------------
INCR_AGG_ORACLE = """
WITH final AS (
  SELECT CASE WHEN user_id % 7 = 0 THEN 'relabeled' ELSE event_type END AS event_type,
         value
  FROM events
)
SELECT event_type,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM final
GROUP BY event_type
"""


@register("incremental_agg_refresh", INCR_AGG_ORACLE)
def incremental_agg_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ..operators.incremental import refresh_incremental_agg
    from ..sources.table_store import TableStore

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    tmp = tempfile.mkdtemp(prefix="ddw_incr_agg_")
    try:
        store = TableStore(spark, tmp)
        store.overwrite("fact", events.filter(F.col("event_id") % 10 < 8))
        store.enable_cdc("fact")
        # initialize the aggregate at the seeded version (full recompute once)
        v0 = refresh_incremental_agg(store, "fact", "agg", ["event_type"], "value", 0)
        # day-2 increment: late-arriving 20% + a correction moving a slice
        # of rows into a new group
        store.append("fact", events.filter(F.col("event_id") % 10 >= 8))
        store.update(
            "fact",
            {"event_type": F.lit("relabeled")},
            where=F.col("user_id") % 7 == 0,
        )
        refresh_incremental_agg(store, "fact", "agg", ["event_type"], "value", v0)
        # detach the result from the temp files (block-manager copy) so the
        # caller can evaluate it after cleanup; the agg is a handful of rows
        return (
            store.read("agg")
            .filter(F.col("n_rows") > 0)
            .select("event_type", "sum_cents", "n_rows")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# ---------------------------------------------------------------------------
# Per-domain cap (corpus balancing): web-scale corpora are dominated by a
# few giant sources, so training mixes cap documents per domain. Keep the
# first CAP docs per source (deterministic doc_id order — in production
# the order key would be a quality score, cf. dedup_keep_best) and report
# per-source kept/total. One shuffle on source for the window; the
# aggregate reuses the same partitioning.
# ---------------------------------------------------------------------------
DOMAIN_CAP = 20

DOMAIN_CAP_ORACLE = f"""
WITH ranked AS (
  SELECT source, doc_id,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
  FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_total,
       CAST(SUM(CASE WHEN rn <= {DOMAIN_CAP} THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM ranked
GROUP BY source
"""


@register("domain_cap_sample", DOMAIN_CAP_ORACLE)
def domain_cap_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    w = W.partitionBy("source").orderBy("doc_id")
    return (
        docs.select("source", "doc_id")
        .withColumn("__rn", F.row_number().over(w))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.when(F.col("__rn") <= DOMAIN_CAP, 1).otherwise(0)).alias("n_kept"),
        )
    )


# ---------------------------------------------------------------------------
# Corpus-frequency boilerplate removal: drop EVERY occurrence of any
# segment appearing in >= BOILER_MAX_DF distinct documents (headers /
# nav / license banners — CCNet/RefinedWeb-style), unlike dedup_segments
# which keeps the first occurrence. A 20-word banner is planted on every
# even doc_id so the operator has real boilerplate to find at any scale.
# ---------------------------------------------------------------------------
BOILER_BANNER = (
    "subscribe to our newsletter follow us on social media all rights "
    "reserved terms of service privacy policy cookie settings accepted"
)
BOILER_MAX_DF = 5

SQL_BANNER_DOCS = f"""
  SELECT doc_id,
         CASE WHEN doc_id % 2 = 0 THEN '{BOILER_BANNER} ' || text ELSE text END AS text
  FROM documents
"""

BOILERPLATE_ORACLE = rf"""
WITH all_docs AS ({SQL_BANNER_DOCS}),
words AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
  FROM all_docs WHERE len(trim(text)) > 0
),
segs AS (
  SELECT doc_id, CAST(i AS INT) AS seg_idx,
         array_to_string(list_slice(ws, CAST(i * {SEGMENT_WORDS} + 1 AS BIGINT),
                                    CAST((i + 1) * {SEGMENT_WORDS} AS BIGINT)), ' ') AS seg_text
  FROM words, UNNEST(range(CAST(ceil(len(ws) / {SEGMENT_WORDS}.0) AS BIGINT))) AS t(i)
),
freq AS (
  SELECT md5(seg_text) AS h, COUNT(DISTINCT doc_id) AS df
  FROM segs GROUP BY 1
)
SELECT s.doc_id,
       COALESCE(string_agg(CASE WHEN f.df < {BOILER_MAX_DF} THEN s.seg_text END,
                           ' ' ORDER BY s.seg_idx), '') AS clean_text,
       CAST(SUM(CASE WHEN f.df < {BOILER_MAX_DF} THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN f.df >= {BOILER_MAX_DF} THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
FROM segs s JOIN freq f ON md5(s.seg_text) = f.h
GROUP BY s.doc_id
"""


@register("boilerplate_removal", BOILERPLATE_ORACLE)
def boilerplate_removal_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup_text import boilerplate_removal

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 2 == 0, F.concat(F.lit(BOILER_BANNER + " "), F.col("text"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return boilerplate_removal(
        docs, "doc_id", "text", seg_words=SEGMENT_WORDS, max_doc_freq=BOILER_MAX_DF
    )


# ---------------------------------------------------------------------------
# Top-k characteristic terms per document by tf-idf. idf = N/df (no log:
# monotone-equivalent ranking, and every step stays a correctly-rounded
# IEEE op — exact integer products below 2^53 — so scores are
# bit-identical cross-engine).
# ---------------------------------------------------------------------------
TFIDF_K = 3

TFIDF_ORACLE = r"""
WITH tokens AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
  FROM documents
),
tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM tokens GROUP BY 1, 2
),
df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS doc_freq FROM tf GROUP BY 1),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.doc_freq,
         ROUND(CAST(tf.tf AS DOUBLE) * n.n_docs / df.doc_freq, 6) AS tfidf
  FROM tf JOIN df USING (term) CROSS JOIN n
)
SELECT doc_id, term, tf, doc_freq, tfidf
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, term) AS rn
      FROM scored)
WHERE rn <= 3
"""


@register("tfidf_top_terms", TFIDF_ORACLE)
def tfidf_top_terms_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text_analysis import tfidf_top_terms

    docs = load_table(spark, sf_dir, "documents")
    return tfidf_top_terms(docs, "doc_id", "text", k=TFIDF_K)


# ---------------------------------------------------------------------------
# Unigram-LM document quality score: mean corpus probability of the
# document's tokens — the fluency/perplexity proxy without log (int64
# sums + two correctly-rounded divisions = bit-identical cross-engine).
# ---------------------------------------------------------------------------
UNIGRAM_ORACLE = r"""
WITH tokens AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
  FROM documents
),
counts AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt FROM tokens GROUP BY 1),
total AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM counts),
per_doc AS (
  SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM(c.cnt) AS BIGINT) AS freq_sum
  FROM tokens t JOIN counts c USING (term) GROUP BY 1
)
SELECT doc_id, n_tokens, freq_sum,
       ROUND(CAST(freq_sum AS DOUBLE) / n_tokens / total, 12) AS avg_token_prob
FROM per_doc CROSS JOIN total
"""


@register("unigram_lm_score", UNIGRAM_ORACLE)
def unigram_lm_score_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text_analysis import unigram_lm_scores

    docs = load_table(spark, sf_dir, "documents")
    return unigram_lm_scores(docs, "doc_id", "text")


# ---------------------------------------------------------------------------
# Embedding-space train/eval decontamination: top-1 contaminating train
# item per eval item above cosine 0.95 — the semantic complement of
# decontaminate_ngrams (catches paraphrased leaks with no shared
# shingle). Leaks are planted: train-side copies of every vec_id % 20
# eval vector.
# ---------------------------------------------------------------------------
DECON_THRESHOLD = 0.95

EMB_DECON_ORACLE = f"""
WITH ev AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 = 0),
tr AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 != 0
  UNION ALL
  SELECT vec_id + {ID_OFFSET} AS vec_id, embedding FROM embeddings WHERE vec_id % 20 = 0
),
pairs AS (
  SELECT e.vec_id AS eval_id, t.vec_id AS train_id,
         {_sql_cosine('e.embedding', 't.embedding')} AS cosine
  FROM ev e JOIN tr t
    ON {SQL_BUCKET.format(v='e.embedding')} = {SQL_BUCKET.format(v='t.embedding')}
  WHERE {_sql_cosine('e.embedding', 't.embedding')} > {DECON_THRESHOLD}
)
SELECT eval_id, train_id, cosine
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY eval_id
                                   ORDER BY cosine DESC, train_id) AS rn
      FROM pairs)
WHERE rn = 1
"""


@register("embedding_decontaminate", EMB_DECON_ORACLE)
def embedding_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import cross_set_decontaminate

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    eval_df = emb.filter(F.col("vec_id") % 10 == 0)
    train = emb.filter(F.col("vec_id") % 10 != 0).unionAll(
        eval_df.filter(F.col("vec_id") % 20 == 0).select(
            (F.col("vec_id") + ID_OFFSET).alias("vec_id"), "embedding"
        )
    )
    return cross_set_decontaminate(
        eval_df, train, threshold=DECON_THRESHOLD, bits=8
    )


# ---------------------------------------------------------------------------
# Source-format round-trip (JSONL + CSV + ORC): documents written to all
# three formats and read back with explicit schemas, then aggregated per
# (format, lang) — identical counts/sums from every format prove the
# interchange is lossless. Writes/reads are distributed (per-partition
# files); the oracle is the same aggregate straight off the parquet.
# ---------------------------------------------------------------------------
ROUNDTRIP_ORACLE = """
WITH base AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_chars) AS BIGINT) AS sum_chars
  FROM documents GROUP BY lang
)
SELECT 'jsonl' AS fmt, lang, n_docs, sum_chars FROM base
UNION ALL
SELECT 'csv' AS fmt, lang, n_docs, sum_chars FROM base
UNION ALL
SELECT 'orc' AS fmt, lang, n_docs, sum_chars FROM base
"""


@register("file_format_roundtrip", ROUNDTRIP_ORACLE)
def file_format_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ..sources.files import (
        read_csv,
        read_jsonl,
        read_orc,
        write_csv,
        write_jsonl,
        write_orc,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    tmp = tempfile.mkdtemp(prefix="ddw_files_")
    try:
        jd, cd, od = f"{tmp}/docs_jsonl", f"{tmp}/docs_csv", f"{tmp}/docs_orc"
        write_jsonl(docs, jd)
        write_csv(docs, cd)
        write_orc(docs, od)
        schema = docs.schema
        j = read_jsonl(spark, jd, schema).select(
            F.lit("jsonl").alias("fmt"), "lang", "n_chars"
        )
        c = read_csv(spark, cd, schema).select(
            F.lit("csv").alias("fmt"), "lang", "n_chars"
        )
        o = read_orc(spark, od, schema).select(
            F.lit("orc").alias("fmt"), "lang", "n_chars"
        )
        out = (
            j.unionByName(c)
            .unionByName(o)
            .groupBy("fmt", "lang")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_chars").alias("sum_chars"),
            )
        )
        # detach from the temp files before cleanup (few-row aggregate)
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# ---------------------------------------------------------------------------
# Fixed-iteration k-means over quantized embeddings (iterative-algorithm
# showcase next to connected components): 2 unrolled Lloyd rounds from
# deterministic seeds, exact int64 distances via |a-b|^2 = a.a-2a.b+b.b,
# centroids re-quantized with ROUND(SUM/COUNT). The oracle unrolls the
# same two rounds in SQL.
# ---------------------------------------------------------------------------
KMEANS_K = 8


def _sql_dist(qa: str, qb: str) -> str:
    return (
        f"CAST({SQL_DOT.format(a=qa, b=qa)} AS BIGINT)"
        f" - 2 * CAST({SQL_DOT.format(a=qa, b=qb)} AS BIGINT)"
        f" + CAST({SQL_DOT.format(a=qb, b=qb)} AS BIGINT)"
    )


KMEANS_ORACLE = f"""
WITH q AS (SELECT vec_id, {SQL_QUANT.format(v='embedding')} AS qv FROM embeddings),
c0 AS (SELECT vec_id AS cid, qv AS cv FROM q WHERE vec_id < {KMEANS_K}),
d1 AS (
  SELECT q.vec_id, c.cid, {_sql_dist('q.qv', 'c.cv')} AS dist
  FROM q CROSS JOIN c0 c
),
a1 AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
    FROM d1) WHERE rn = 1
),
e AS (
  SELECT vec_id, CAST(i AS INT) AS dim, qv[CAST(i + 1 AS BIGINT)] AS val
  FROM q, UNNEST(range(len(qv))) AS t(i)
),
cd AS (
  SELECT a.cid, e.dim,
         CAST(ROUND(CAST(SUM(e.val) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cq
  FROM a1 a JOIN e ON a.vec_id = e.vec_id
  GROUP BY 1, 2
),
c1 AS (SELECT cid, list(cq ORDER BY dim) AS cv FROM cd GROUP BY cid),
d2 AS (
  SELECT q.vec_id, c.cid, {_sql_dist('q.qv', 'c.cv')} AS dist
  FROM q CROSS JOIN c1 c
),
a2 AS (
  SELECT vec_id, cid, dist FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
    FROM d2) WHERE rn = 1
)
SELECT cid AS cluster, CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(SUM(dist) AS BIGINT) AS sum_distsq
FROM a2 GROUP BY cid
"""


@register("kmeans_embeddings", KMEANS_ORACLE)
def kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.clustering import kmeans_fixed

    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_fixed(emb, k=KMEANS_K, iterations=2)


# ---------------------------------------------------------------------------
# SemDeDup-style semantic deduplication (Abbas et al. 2023,
# arXiv:2303.09540): k-means clusters as the blocking key, pairwise
# cosine pruning WITHIN clusters only. Keep rule is the deterministic
# lowest-id variant (see operators/clustering.py semantic_dedup).
#
# Scale: k is derived from the footer row count as max(8, floor(sqrt(n)))
# — the BALANCED choice for the exact algorithm: Lloyd assignment costs
# O(n*k) and the within-cluster prune O(n * n/k), which equalize at
# k = sqrt(n) for O(n^1.5) total, the minimum any exact
# cluster-then-prune can pay. (The paper's web-scale runs instead fix
# cluster SIZE and pay the n*k assignment approximately on GPUs/faiss;
# the in-engine analog of that regime is semantic_dedup_ivf below —
# registered, oracle-checked, and O(n^1.25) where this exact form is
# O(n^1.5).) The oracle computes the same k from
# COUNT(*); FLOOR(SQRT(n)) in double equals isqrt at any realistic
# corpus size (first divergence needs n ~ 2^52). Threshold chosen
# non-vacuous: kept AND dropped rows exist at every test SF.
# ---------------------------------------------------------------------------
SEMDEDUP_THRESHOLD = 0.4


SEMDEDUP_ORACLE = f"""
WITH q AS (SELECT vec_id, {SQL_QUANT.format(v='embedding')} AS qv FROM embeddings),
kp AS (SELECT GREATEST(8, CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT)) AS k FROM q),
c0 AS (SELECT vec_id AS cid, qv AS cv FROM q WHERE vec_id < (SELECT k FROM kp)),
d1 AS (
  SELECT q.vec_id, c.cid, {_sql_dist('q.qv', 'c.cv')} AS dist
  FROM q CROSS JOIN c0 c
),
a1 AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
    FROM d1) WHERE rn = 1
),
e AS (
  SELECT vec_id, CAST(i AS INT) AS dim, qv[CAST(i + 1 AS BIGINT)] AS val
  FROM q, UNNEST(range(len(qv))) AS t(i)
),
cd AS (
  SELECT a.cid, e.dim,
         CAST(ROUND(CAST(SUM(e.val) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cq
  FROM a1 a JOIN e ON a.vec_id = e.vec_id
  GROUP BY 1, 2
),
c1 AS (SELECT cid, list(cq ORDER BY dim) AS cv FROM cd GROUP BY cid),
d2 AS (
  SELECT q.vec_id, c.cid, {_sql_dist('q.qv', 'c.cv')} AS dist
  FROM q CROSS JOIN c1 c
),
a2 AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
    FROM d2) WHERE rn = 1
),
member AS (SELECT a2.vec_id, a2.cid, q.qv FROM a2 JOIN q ON a2.vec_id = q.vec_id),
dropped AS (
  SELECT DISTINCT b.vec_id
  FROM member a JOIN member b ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE {_sql_cosine_preq('a.qv', 'b.qv')} >= {SEMDEDUP_THRESHOLD}
)
SELECT m.vec_id, m.cid AS cluster,
       CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS kept
FROM member m LEFT JOIN dropped d ON m.vec_id = d.vec_id
"""


@register("semantic_dedup", SEMDEDUP_ORACLE)
def semantic_dedup_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    from ..operators.clustering import semantic_dedup
    from ..sources.parquet import table_row_count

    emb = load_table(spark, sf_dir, "embeddings")
    k = max(8, math.isqrt(table_row_count(sf_dir, "embeddings")))
    return semantic_dedup(
        emb, k=k, threshold=SEMDEDUP_THRESHOLD, iterations=2
    )


# ---------------------------------------------------------------------------
# SemDeDup, the WEB-SCALE regime (VERDICT r8 #1): fixed target cluster
# SIZE (k grows with the corpus) + IVF-pruned assignment — each vector
# scores only the fine centroids in its n_probe nearest coarse cells.
# This was the one registered plan whose best form was superlinear
# (exact cluster-then-prune is O(n^1.5) by construction); the IVF form
# is O(n^1.25) for a flat two-level hierarchy. The construction is
# fully deterministic (seed centroids = first vectors by id, exact
# int64 distances, lowest-id ties), so the oracle replays it exactly —
# a full hash-match check, stronger than the verified-approximate
# contract. "Approximate" = single-shot IVF clustering instead of
# converged k-means, which changes WHICH near-dup pairs share a
# cluster, not the determinism of the answer. The exact form stays
# registered beside it as the quality anchor (test_extensions pins
# agreement between the two on the planted near-dup fixture).
#
# Scale: parameters derive from footer counts — k = max(8, ceil(n/S))
# with S = 24 (clusters stay S-sized as n grows), m = isqrt(k) coarse
# cells, n_probe = 2. Coarse scoring n*m off a broadcast; top-p cells
# via ONE hash aggregate (no n*m window); fine scoring n*p*(k/m) off a
# broadcast; prune is the shared one-equi-join kernel over S-bounded
# clusters (O(n*S) pairs, linear in n).
# ---------------------------------------------------------------------------
SEMDEDUP_IVF_CLUSTER_SIZE = 24
SEMDEDUP_IVF_NPROBE = 2


SEMDEDUP_IVF_ORACLE = f"""
WITH q AS (SELECT vec_id, {SQL_QUANT.format(v='embedding')} AS qv FROM embeddings),
kp AS (SELECT GREATEST(8, CAST(CEIL(COUNT(*) / {SEMDEDUP_IVF_CLUSTER_SIZE}.0) AS BIGINT)) AS k FROM q),
mp AS (SELECT GREATEST(2, CAST(FLOOR(SQRT(k)) AS BIGINT)) AS m FROM kp),
fine AS (SELECT vec_id AS cid, qv AS cv FROM q WHERE vec_id < (SELECT k FROM kp)),
coarse AS (SELECT vec_id AS ccid, qv AS ccv FROM q WHERE vec_id < (SELECT m FROM mp)),
fc AS (
  SELECT cid, ccid FROM (
    SELECT f.cid, c.ccid,
           ROW_NUMBER() OVER (PARTITION BY f.cid
                              ORDER BY {_sql_dist('f.cv', 'c.ccv')}, c.ccid) AS rn
    FROM fine f CROSS JOIN coarse c) WHERE rn = 1
),
probes AS (
  SELECT vec_id, ccid FROM (
    SELECT q.vec_id, c.ccid,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
                              ORDER BY {_sql_dist('q.qv', 'c.ccv')}, c.ccid) AS rn
    FROM q CROSS JOIN coarse c) WHERE rn <= {SEMDEDUP_IVF_NPROBE}
),
assign AS (
  SELECT vec_id, cid FROM (
    SELECT p.vec_id, cells.cid,
           ROW_NUMBER() OVER (PARTITION BY p.vec_id
                              ORDER BY {_sql_dist('q.qv', 'cells.cv')}, cells.cid) AS rn
    FROM probes p
    JOIN q ON p.vec_id = q.vec_id
    JOIN (SELECT fc.cid, fc.ccid, f2.cv FROM fc JOIN fine f2 ON fc.cid = f2.cid) cells
      ON p.ccid = cells.ccid) WHERE rn = 1
),
member AS (SELECT a.vec_id, a.cid, q.qv FROM assign a JOIN q ON a.vec_id = q.vec_id),
dropped AS (
  SELECT DISTINCT b.vec_id
  FROM member a JOIN member b ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE {_sql_cosine_preq('a.qv', 'b.qv')} >= {SEMDEDUP_THRESHOLD}
)
SELECT m.vec_id, m.cid AS cluster,
       CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS kept
FROM member m LEFT JOIN dropped d ON m.vec_id = d.vec_id
"""


@register("semantic_dedup_ivf", SEMDEDUP_IVF_ORACLE)
def semantic_dedup_ivf_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    from ..operators.clustering import semantic_dedup_ivf
    from ..sources.parquet import table_row_count

    n = table_row_count(sf_dir, "embeddings")
    k = max(8, -(-n // SEMDEDUP_IVF_CLUSTER_SIZE))  # exact ceil
    m = max(2, math.isqrt(k))
    return semantic_dedup_ivf(
        load_table(spark, sf_dir, "embeddings"),
        k=k,
        m=m,
        n_probe=SEMDEDUP_IVF_NPROBE,
        threshold=SEMDEDUP_THRESHOLD,
    )


# ---------------------------------------------------------------------------
# SemDeDup, THREE-level IVF (round 10, VERDICT r9 #7 — the "deepen the
# hierarchy" option, chosen over a crossover-table-only answer because
# the crossover table demanded it: BASELINE.md's ivf_crossover
# measurement shows assignment at 86-88% of the two-level operator's
# cost from 30x data on, growing as its per-row ~3*sqrt(k) scoring
# term). c = icbrt(k) coarse cells -> m2 = c^2 mid cells -> k fine
# centroids; per-row scoring (1+2p)*k^(1/3); totals O(n^(7/6)) vs the
# flat form's O(n^1.25) with cluster size fixed at S. Deterministic
# end-to-end (nested id-range seeds, exact int64 distances, lowest-id
# ties) -> full hash-match oracle. icbrt is exact-integer on the Spark
# side; the oracle's FLOOR(POWER(k + 0.5, 1/3)) equals it because the
# +0.5 offset keeps the cube root ~0.5/(3c^2) away from any integer —
# orders of magnitude above double rounding error at any realistic k.
# ---------------------------------------------------------------------------
def _icbrt(n: int) -> int:
    c = round(n ** (1.0 / 3.0))
    while c**3 > n:
        c -= 1
    while (c + 1) ** 3 <= n:
        c += 1
    return c


SEMDEDUP_IVF3_ORACLE = f"""
WITH q AS (SELECT vec_id, {SQL_QUANT.format(v='embedding')} AS qv FROM embeddings),
kp AS (SELECT GREATEST(8, (COUNT(*) + {SEMDEDUP_IVF_CLUSTER_SIZE - 1})
                          // {SEMDEDUP_IVF_CLUSTER_SIZE}) AS k FROM q),
cp AS (SELECT GREATEST(2, CAST(FLOOR(POWER(k + 0.5, 1.0/3.0)) AS BIGINT)) AS c FROM kp),
mp AS (SELECT GREATEST(4, c * c) AS m2 FROM cp),
fine AS (SELECT vec_id AS cid, qv AS cv FROM q WHERE vec_id < (SELECT k FROM kp)),
mid AS (SELECT vec_id AS mid, qv AS mv FROM q WHERE vec_id < (SELECT m2 FROM mp)),
coarse AS (SELECT vec_id AS ccid, qv AS ccv FROM q WHERE vec_id < (SELECT c FROM cp)),
mc AS (
  SELECT mid, mv, ccid FROM (
    SELECT m.mid, m.mv, c.ccid,
           ROW_NUMBER() OVER (PARTITION BY m.mid
                              ORDER BY {_sql_dist('m.mv', 'c.ccv')}, c.ccid) AS rn
    FROM mid m CROSS JOIN coarse c) WHERE rn = 1
),
fm AS (
  SELECT cid, cv, mid FROM (
    SELECT f.cid, f.cv, m.mid,
           ROW_NUMBER() OVER (PARTITION BY f.cid
                              ORDER BY {_sql_dist('f.cv', 'm.mv')}, m.mid) AS rn
    FROM fine f CROSS JOIN mid m) WHERE rn = 1
),
p1 AS (
  SELECT vec_id, ccid FROM (
    SELECT v.vec_id, c.ccid,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id
                              ORDER BY {_sql_dist('v.qv', 'c.ccv')}, c.ccid) AS rn
    FROM q v CROSS JOIN coarse c) WHERE rn <= {SEMDEDUP_IVF_NPROBE}
),
p2 AS (
  SELECT vec_id, mid FROM (
    SELECT p.vec_id, mc.mid,
           ROW_NUMBER() OVER (PARTITION BY p.vec_id
                              ORDER BY {_sql_dist('v.qv', 'mc.mv')}, mc.mid) AS rn
    FROM p1 p
    JOIN q v ON p.vec_id = v.vec_id
    JOIN mc ON p.ccid = mc.ccid) WHERE rn <= {SEMDEDUP_IVF_NPROBE}
),
assign AS (
  SELECT vec_id, cid FROM (
    SELECT p.vec_id, fm.cid,
           ROW_NUMBER() OVER (PARTITION BY p.vec_id
                              ORDER BY {_sql_dist('v.qv', 'fm.cv')}, fm.cid) AS rn
    FROM p2 p
    JOIN q v ON p.vec_id = v.vec_id
    JOIN fm ON p.mid = fm.mid) WHERE rn = 1
),
member AS (SELECT a.vec_id, a.cid, q.qv FROM assign a JOIN q ON a.vec_id = q.vec_id),
dropped AS (
  SELECT DISTINCT b.vec_id
  FROM member a JOIN member b ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE {_sql_cosine_preq('a.qv', 'b.qv')} >= {SEMDEDUP_THRESHOLD}
)
SELECT m.vec_id, m.cid AS cluster,
       CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS kept
FROM member m LEFT JOIN dropped d ON m.vec_id = d.vec_id
"""


@register("semantic_dedup_ivf3", SEMDEDUP_IVF3_ORACLE)
def semantic_dedup_ivf3_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.clustering import semantic_dedup_ivf3
    from ..sources.parquet import table_row_count

    n = table_row_count(sf_dir, "embeddings")
    k = max(8, -(-n // SEMDEDUP_IVF_CLUSTER_SIZE))
    c = max(2, _icbrt(k))
    m2 = max(4, c * c)
    return semantic_dedup_ivf3(
        load_table(spark, sf_dir, "embeddings"),
        k=k,
        m2=m2,
        c=c,
        n_probe=SEMDEDUP_IVF_NPROBE,
        threshold=SEMDEDUP_THRESHOLD,
    )


# ---------------------------------------------------------------------------
# Incremental semantic dedup, STORE-PROBING form (round 10, VERDICT r9
# #3): the production regime of SemDeDup for a pipeline that ingests
# CONTINUOUSLY — the IVF index (coarse centroids, fine cells, member
# assignments with quantized vectors and norms) is persisted in the
# TableStore at ingest, and each new batch (vec_id % 10 == 0 plays the
# new crawl; the corpus is the rest) IVF-assigns against the STORED
# centroids and prunes only against ITS OWN clusters' stored members
# plus lower-id batch peers. The semantic analog of
# dedup_incremental_lsh_store: signatures/centroids computed once per
# vector ever, each increment pays O(|batch|) assignment dots off
# broadcasts + one cluster-bounded equi-join — never a corpus
# re-cluster, never a corpus-wide prune.
#
# Seed selection is an ID-RANGE rule (corpus ids below a bound sized
# so the expected seed count hits the k/m targets: corpus keeps 9 of
# every 10 dense ids, so bound = ceil(target * 10/9), exact integer
# arithmetic on both engines) — a rank-based "first k" would cost a
# global sort at build time; the id range is a pushed-down scan
# predicate. Deterministic end-to-end (exact int64 distances,
# lowest-id ties, 6dp-rounded cosines) -> FULL hash-match oracle that
# replays the index build + probe in SQL.
#
# Scale: members persist PARTITIONED BY ccid (m ~ sqrt(k) coarse
# cells), so a batch's members read prunes to its probed cells'
# partitions; the store read is O(probed members) per increment and
# the index grows by append as batches commit (the accepted batch's
# own assignments append with the same schema — exercised by the
# companion test, not re-run per driver check).
# ---------------------------------------------------------------------------
SEMDEDUP_INC_ORACLE = f"""
WITH q AS (SELECT vec_id, {SQL_QUANT.format(v='embedding')} AS qv FROM embeddings),
corpus AS (SELECT * FROM q WHERE vec_id % 10 != 0),
batch AS (SELECT * FROM q WHERE vec_id % 10 = 0),
kp AS (SELECT GREATEST(8, (COUNT(*) + {SEMDEDUP_IVF_CLUSTER_SIZE - 1})
                          // {SEMDEDUP_IVF_CLUSTER_SIZE}) AS k FROM corpus),
bp AS (SELECT (k * 10 + 8) // 9 AS bf,
              (GREATEST(2, CAST(FLOOR(SQRT(k)) AS BIGINT)) * 10 + 8) // 9 AS bc
       FROM kp),
fine AS (SELECT vec_id AS cid, qv AS cv FROM corpus
         WHERE vec_id < (SELECT bf FROM bp)),
coarse AS (SELECT vec_id AS ccid, qv AS ccv FROM corpus
           WHERE vec_id < (SELECT bc FROM bp)),
fc AS (
  SELECT cid, ccid FROM (
    SELECT f.cid, c.ccid,
           ROW_NUMBER() OVER (PARTITION BY f.cid
                              ORDER BY {_sql_dist('f.cv', 'c.ccv')}, c.ccid) AS rn
    FROM fine f CROSS JOIN coarse c) WHERE rn = 1
),
cells AS (SELECT fc.cid, fc.ccid, f2.cv FROM fc JOIN fine f2 ON fc.cid = f2.cid),
probes_c AS (
  SELECT vec_id, ccid FROM (
    SELECT v.vec_id, c.ccid,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id
                              ORDER BY {_sql_dist('v.qv', 'c.ccv')}, c.ccid) AS rn
    FROM corpus v CROSS JOIN coarse c) WHERE rn <= {SEMDEDUP_IVF_NPROBE}
),
members AS (
  SELECT vec_id, cid, qv FROM (
    SELECT p.vec_id, cells.cid, v.qv,
           ROW_NUMBER() OVER (PARTITION BY p.vec_id
                              ORDER BY {_sql_dist('v.qv', 'cells.cv')}, cells.cid) AS rn
    FROM probes_c p
    JOIN corpus v ON p.vec_id = v.vec_id
    JOIN cells ON p.ccid = cells.ccid) WHERE rn = 1
),
probes_b AS (
  SELECT vec_id, ccid FROM (
    SELECT v.vec_id, c.ccid,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id
                              ORDER BY {_sql_dist('v.qv', 'c.ccv')}, c.ccid) AS rn
    FROM batch v CROSS JOIN coarse c) WHERE rn <= {SEMDEDUP_IVF_NPROBE}
),
bmem AS (
  SELECT vec_id, cid, qv FROM (
    SELECT p.vec_id, cells.cid, v.qv,
           ROW_NUMBER() OVER (PARTITION BY p.vec_id
                              ORDER BY {_sql_dist('v.qv', 'cells.cv')}, cells.cid) AS rn
    FROM probes_b p
    JOIN batch v ON p.vec_id = v.vec_id
    JOIN cells ON p.ccid = cells.ccid) WHERE rn = 1
),
dropped AS (
  SELECT b.vec_id
  FROM bmem b JOIN members m ON m.cid = b.cid
  WHERE {_sql_cosine_preq('m.qv', 'b.qv')} >= {SEMDEDUP_THRESHOLD}
  UNION
  SELECT b.vec_id
  FROM bmem a JOIN bmem b ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE {_sql_cosine_preq('a.qv', 'b.qv')} >= {SEMDEDUP_THRESHOLD}
)
SELECT b.vec_id, b.cid AS cluster,
       CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS kept
FROM bmem b LEFT JOIN dropped d ON b.vec_id = d.vec_id
"""


@register("semantic_dedup_incremental_store", SEMDEDUP_INC_ORACLE)
def semantic_dedup_incremental_store(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import math
    import shutil
    import tempfile

    from ..operators.clustering import ivf_index_build, semantic_dedup_probe
    from ..sources.parquet import table_row_count
    from ..sources.table_store import TableStore

    emb = load_table(spark, sf_dir, "embeddings")
    batch = emb.filter(F.col("vec_id") % 10 == 0)
    corpus = emb.filter(F.col("vec_id") % 10 != 0)
    n = table_row_count(sf_dir, "embeddings")
    n_corpus = n - -(-n // 10)  # dense ids: batch takes ceil(n/10)
    k = max(8, -(-n_corpus // SEMDEDUP_IVF_CLUSTER_SIZE))
    bf = (k * 10 + 8) // 9
    bc = (max(2, math.isqrt(k)) * 10 + 8) // 9
    tmp = tempfile.mkdtemp(prefix="ddw_semdedup_store_")
    try:
        store = TableStore(spark, tmp)
        # ingest-time index build, persisted once; at production scale
        # these writes happen per historical batch via store.append
        coarse, cells, members = ivf_index_build(
            corpus, fine_bound=bf, coarse_bound=bc,
            n_probe=SEMDEDUP_IVF_NPROBE,
        )
        store.overwrite("ivf_coarse", coarse)
        store.overwrite("ivf_cells", cells)
        store.overwrite("ivf_members", members, partition_by=["ccid"])
        out = semantic_dedup_probe(
            batch,
            store.read("ivf_coarse"),
            store.read("ivf_cells"),
            store.read("ivf_members"),
            n_probe=SEMDEDUP_IVF_NPROBE,
            threshold=SEMDEDUP_THRESHOLD,
        )
        # detach from the temp files (block-manager copy) before cleanup
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# ---------------------------------------------------------------------------
# Vocabulary coverage at top-N checkpoints — tokenizer-design statistic
# (what share of token occurrences the top-N terms cover). Whitespace
# tokenization shared with token_count/tfidf; coverage as exact integer
# ppm (floor division) so the ratio hashes identically cross-engine.
# ---------------------------------------------------------------------------
VOCAB_CHECKPOINTS = (10, 100, 1000)

VOCAB_COVERAGE_ORACLE = r"""
WITH tokens AS (
  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
  FROM documents
),
counts AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt FROM tokens GROUP BY 1),
total AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total_tokens FROM counts),
ranked AS (
  SELECT ROW_NUMBER() OVER (ORDER BY cnt DESC, term) AS top_n,
         CAST(SUM(cnt) OVER (ORDER BY cnt DESC, term
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS covered_tokens
  FROM counts
)
SELECT top_n, covered_tokens, total_tokens,
       CAST((covered_tokens * 1000000) // total_tokens AS BIGINT) AS coverage_ppm
FROM ranked, total
WHERE top_n IN (10, 100, 1000)
"""


@register("vocab_coverage", VOCAB_COVERAGE_ORACLE)
def vocab_coverage_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text_analysis import vocab_coverage

    docs = load_table(spark, sf_dir, "documents")
    return vocab_coverage(docs, "text", checkpoints=VOCAB_CHECKPOINTS)


# ---------------------------------------------------------------------------
# Fuzzy string-similarity self-join with blocking, at the DISTINCT-VALUE
# level: name pairs within the same first-token block at Levenshtein
# distance <= D, each carrying its instance multiplicities.
#
# Classic record-linkage shape, with the two scale disciplines:
# 1. the block key bounds the candidate set (never an n^2 all-pairs
#    cross join — same discipline as the LSH / SimHash banded joins);
# 2. linkage runs over DISTINCT values, never row instances. Measured:
#    the instance-level form of this query produced 25M (key_a, key_b)
#    rows at sf0.1 (20k parts share 64 distinct names) and took 62 s —
#    pure output-cardinality cost, which no blocking can fix. The
#    distinct-level form computes the identical information (every
#    instance pair is name_pair x multiplicities, exposed as
#    `instance_pairs`) in < 1 s, and at 100 TB keeps the expensive
#    edit-distance evaluations proportional to |vocabulary|, not |rows|.
# Spark's 3-arg levenshtein(l, r, D) bails out of the banded DP early
# once the distance exceeds the threshold; both engines implement the
# identical classic edit distance, so kept distances hash identically.
# ---------------------------------------------------------------------------
FUZZY_MAX_DIST = 8

FUZZY_ORACLE = f"""
WITH names AS (
  SELECT p_name, split_part(p_name, ' ', 1) AS blk,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM part GROUP BY p_name
)
SELECT a.p_name AS name_a, b.p_name AS name_b,
       CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist,
       a.n AS n_a, b.n AS n_b,
       CAST(CASE WHEN a.p_name = b.p_name THEN a.n * (a.n - 1) // 2
                 ELSE a.n * b.n END AS BIGINT) AS instance_pairs
FROM names a JOIN names b ON a.blk = b.blk AND a.p_name <= b.p_name
WHERE levenshtein(a.p_name, b.p_name) <= {FUZZY_MAX_DIST}
"""


@register("fuzzy_name_pairs", FUZZY_ORACLE)
def fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    names = part.groupBy("p_name").agg(F.count("*").alias("n")).select(
        "p_name", F.substring_index("p_name", " ", 1).alias("blk"), "n"
    )
    a = names.select(
        F.col("p_name").alias("name_a"), F.col("n").alias("n_a"), "blk"
    )
    b = names.select(
        F.col("p_name").alias("name_b"), F.col("n").alias("n_b"), "blk"
    )
    # thresholded levenshtein: -1 once the banded DP exceeds D — cheap reject
    d = F.levenshtein(F.col("name_a"), F.col("name_b"), FUZZY_MAX_DIST)
    return (
        a.join(b, "blk")
        .filter(F.col("name_a") <= F.col("name_b"))
        .select("name_a", "name_b", d.alias("dist"), "n_a", "n_b")
        .filter(F.col("dist") >= 0)
        .withColumn(
            "instance_pairs",
            F.when(
                F.col("name_a") == F.col("name_b"),
                # integer div, not double /: n*(n-1) exceeds a double's
                # 53-bit mantissa at the multiplicities 100 TB implies,
                # and the DuckDB oracle uses exact integer // division
                F.expr("n_a * (n_a - 1) div 2"),
            ).otherwise(F.col("n_a") * F.col("n_b")),
        )
    )


# ---------------------------------------------------------------------------
# Fixed-iteration PageRank over the supplier<->customer trade graph
# (who-ships-to-whom from lineitem x orders), the third iterative
# showcase next to connected components and k-means. Scaled-integer
# floor arithmetic; the oracle unrolls the same two rounds in SQL.
# Node ids: supplier -> 2*suppkey, customer -> 2*custkey+1.
# ---------------------------------------------------------------------------
PAGERANK_SCALE = 10**9

PAGERANK_ORACLE = f"""
WITH raw AS (
  SELECT DISTINCT l_suppkey * 2 AS a, o_custkey * 2 + 1 AS b
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
sym AS (SELECT a AS src, b AS dst FROM raw UNION SELECT b, a FROM raw),
deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY src),
r0 AS (SELECT src AS node, CAST({PAGERANK_SCALE} AS BIGINT) AS r FROM deg),
c1 AS (
  SELECT s.dst AS node, CAST(SUM(r0.r // deg.d) AS BIGINT) AS c
  FROM sym s JOIN deg ON s.src = deg.src JOIN r0 ON s.src = r0.node
  GROUP BY s.dst
),
r1 AS (SELECT node, CAST({(15 * PAGERANK_SCALE) // 100} + (85 * c) // 100 AS BIGINT) AS r FROM c1),
c2 AS (
  SELECT s.dst AS node, CAST(SUM(r1.r // deg.d) AS BIGINT) AS c
  FROM sym s JOIN deg ON s.src = deg.src JOIN r1 ON s.src = r1.node
  GROUP BY s.dst
),
r2 AS (SELECT node, CAST({(15 * PAGERANK_SCALE) // 100} + (85 * c) // 100 AS BIGINT) AS r FROM c2)
SELECT node AS node_id, r AS rank_scaled FROM r2
"""


@register("pagerank_fixed", PAGERANK_ORACLE)
def pagerank_fixed_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import pagerank_fixed

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    # no query-side .distinct(): symmetrize() dedups the union anyway,
    # so the pre-distinct was a redundant full exchange of the edge
    # relation (r12, guide §2.4; map-side partial dedup still bounds the
    # remaining exchange's bytes). Same edge set by idempotence.
    edges = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).select(
        (F.col("l_suppkey") * 2).alias("src"),
        (F.col("o_custkey") * 2 + 1).alias("dst"),
    )
    return pagerank_fixed(edges, iterations=2, scale=PAGERANK_SCALE)


# ---------------------------------------------------------------------------
# Bounded k-core peeling (round 7) on the same supplier-customer
# bipartite graph as pagerank_fixed: ROUNDS iterations of "drop nodes
# with degree < K, induce, repeat". The full fixpoint at sf0.01 is
# EMPTY (the cascade collapses: 1600 -> 193 -> 148 -> 0 nodes at K=48),
# so the registered query pins ROUNDS=2 — the mid-cascade state, which
# exercises the iterated-induction machinery and stays non-empty; the
# true-core convergence semantics are pinned by a planted-graph unit
# test (tests/test_operators.py). The oracle unrolls the identical two
# rounds; degrees are exact integers, no floats anywhere.
#
# Scale: see operators/graph.kcore_peel — per round one map-side-
# partial degree aggregate + two node-partitioned joins, keep-set never
# broadcast or collected, lineage checkpoint-truncated per round.
# ---------------------------------------------------------------------------
KCORE_K = 48
KCORE_ROUNDS = 2

KCORE_ORACLE = f"""
WITH raw AS (
  SELECT DISTINCT l_suppkey * 2 AS a, o_custkey * 2 + 1 AS b
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
e0 AS (SELECT a AS src, b AS dst FROM raw UNION SELECT b, a FROM raw),
k1 AS (SELECT src FROM e0 GROUP BY src HAVING COUNT(*) >= {KCORE_K}),
e1 AS (
  SELECT e.src, e.dst FROM e0 e
  JOIN k1 s ON e.src = s.src JOIN k1 t ON e.dst = t.src
),
k2 AS (SELECT src FROM e1 GROUP BY src HAVING COUNT(*) >= {KCORE_K}),
e2 AS (
  SELECT e.src, e.dst FROM e1 e
  JOIN k2 s ON e.src = s.src JOIN k2 t ON e.dst = t.src
)
SELECT src AS node_id, CAST(COUNT(*) AS BIGINT) AS degree
FROM e2 GROUP BY src
"""


@register("kcore_decomposition", KCORE_ORACLE)
def kcore_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import kcore_peel

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    # symmetrize() dedups — the query-side .distinct() was a redundant
    # exchange (see pagerank_fixed_query)
    edges = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).select(
        (F.col("l_suppkey") * 2).alias("src"),
        (F.col("o_custkey") * 2 + 1).alias("dst"),
    )
    return kcore_peel(edges, k=KCORE_K, rounds=KCORE_ROUNDS)


# ---------------------------------------------------------------------------
# Video frame-sampling plumbing as a driver-checked query: assets get a
# synthetic duration (10 ms per char), the mapInPandas sampler fans out
# 1 asset row -> N frame rows executor-side (Arrow both directions), and
# the oracle reproduces the deterministic fake sampler's byte slices in
# SQL. The real codec swaps in for ``fake_frame_sample`` on a cluster
# with ffmpeg/av — the distributed shape (schema, fan-out, batching) is
# exactly what this query pins.
# ---------------------------------------------------------------------------
FRAME_SAMPLE_ORACLE = """
WITH base AS (
  SELECT doc_id,
         text,
         GREATEST(1, (n_chars * 10) // 1000) AS n
  FROM documents
), stepped AS (
  SELECT doc_id, text, n,
         GREATEST(1, length(text) // n) AS step
  FROM base
)
SELECT doc_id AS asset_id,
       CAST(i AS INT) AS frame_idx,
       CAST(i * 1000 AS INT) AS ts_ms,
       md5(substr(text, CAST(i * step + 1 AS INT), 16)) AS frame_md5
FROM (SELECT doc_id, step, unnest(range(0, n)) AS i FROM stepped)
JOIN stepped USING (doc_id, step)
"""


@register("multimodal_frame_sample", FRAME_SAMPLE_ORACLE)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import sample_frames

    docs = load_table(spark, sf_dir, "documents")
    assets = docs.select(
        F.col("doc_id").alias("asset_id"),
        F.encode("text", "utf-8").alias("content"),
        F.struct(
            F.lit("video/fake").alias("mime"),
            (F.col("n_chars") * 10).cast("int").alias("duration_ms"),
        ).alias("meta"),
    )
    frames = sample_frames(assets, every_ms=1000)
    return frames.select(
        "asset_id",
        "frame_idx",
        "ts_ms",
        F.md5("frame").alias("frame_md5"),
    )


# ---------------------------------------------------------------------------
# Video near-dup via frame-fingerprint voting (round 10): the VIDEO
# member of the dedup family, completing the multimodal set beside
# image_near_dup_phash — two videos are near-duplicates when they share
# a supermajority of their sampled frames' fingerprints (the standard
# production shape: per-frame signatures into an inverted index,
# re-encoded/trimmed copies share almost every frame). The pipeline
# runs the REAL multimodal path: sample_frames' Arrow mapInPandas
# fan-out (the stubbed fake sampler's byte slices here; ffmpeg frames
# at production — one function swap), per-frame md5 fingerprints, then
# EXACTLY the winnowing single-exchange algebra over them
# (groupBy(fingerprint).collect_set with map-side dedup -> df <= 50
# boilerplate cap -> array-side pair HOF -> containment filter) — the
# frame relation is exchanged once and no self-join exists. Fixture: a
# 1-in-2 asset sample plus a first-byte mutation of each (only frame 0
# moves, so a copy with n sampled frames shares (n-1)/n). The oracle
# deliberately keeps the distinct + COUNT-window + self-join
# formulation over RAW byte slices — same answer through different
# machinery on both axes (algebra and fingerprinting).
#
# Scale: frames per asset are duration-bounded; the df cap bounds any
# fingerprint's pair fan-out at 50^2/2 (identical intros/outros are
# boilerplate, not evidence); containment thresholds are integer
# cross-multiplications.
# ---------------------------------------------------------------------------
VIDEO_NEAR_DUP_MIN_BP = 6000  # min shared-frame containment (bp)
VIDEO_FRAME_MAX_DF = 50

VIDEO_NEAR_DUP_ORACLE = f"""
WITH all_docs AS (
  SELECT doc_id, text, n_chars FROM documents WHERE doc_id % 2 = 0
  UNION ALL
  SELECT doc_id + {ID_OFFSET} AS doc_id, 'Q' || substr(text, 2) AS text, n_chars
  FROM documents WHERE doc_id % 2 = 0
),
stepped AS (
  SELECT doc_id, text, n, GREATEST(1, length(text) // n) AS step
  FROM (SELECT doc_id, text,
               GREATEST(1, (n_chars * 10) // 1000) AS n
        FROM all_docs)
),
frames AS (
  SELECT DISTINCT doc_id, substr(text, CAST(i * step + 1 AS INT), 16) AS fr
  FROM (SELECT doc_id, text, step, unnest(range(0, n)) AS i FROM stepped)
),
capped AS (
  SELECT doc_id, fr FROM (
    SELECT doc_id, fr, COUNT(*) OVER (PARTITION BY fr) AS df FROM frames
  ) WHERE df <= {VIDEO_FRAME_MAX_DF}
),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fr FROM capped GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(COUNT(*) AS BIGINT) AS shared_frames
  FROM capped a JOIN capped b ON a.fr = b.fr AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, shared_frames,
       CAST(shared_frames * 10000 // LEAST(sa.n_fr, sb.n_fr) AS BIGINT)
         AS containment_bp
FROM pairs
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE shared_frames * 10000 >= {VIDEO_NEAR_DUP_MIN_BP} * LEAST(sa.n_fr, sb.n_fr)
"""


def _video_assets(docs: DataFrame) -> DataFrame:
    """(doc_id, text, n_chars) -> the video-asset shape the frame
    sampler reads (payload bytes + duration metadata)."""
    return docs.select(
        F.col("doc_id").alias("asset_id"),
        F.encode("text", "utf-8").alias("content"),
        F.struct(
            F.lit("video/fake").alias("mime"),
            (F.col("n_chars") * 10).cast("int").alias("duration_ms"),
        ).alias("meta"),
    )


def _video_frame_pairs(frames: DataFrame) -> DataFrame:
    """Shared pair algebra of the video dedup family: sampled frames ->
    near-dup pairs with shared-frame containment (used by the
    registered query and its recall certification)."""
    # one exchange for the whole frame-fingerprint relation (the
    # winnowing pattern): collect_set dedups (asset, fingerprint)
    # map-side, the set size is the df for the boilerplate cap, and the
    # surviving sorted sets feed sizes AND the array-side pair expansion
    fr_g = (
        frames.select("asset_id", F.md5("frame").alias("fr"))
        .groupBy("fr")
        .agg(F.array_sort(F.collect_set("asset_id")).alias("docs"))
        .filter(F.size("docs") <= VIDEO_FRAME_MAX_DF)
        .localCheckpoint(eager=False)
    )
    sizes = (
        fr_g.select(F.explode("docs").alias("asset_id"))
        .groupBy("asset_id")
        .agg(F.count("*").cast("long").alias("n_fr"))
    )
    pairs = (
        fr_g.select(
            F.explode(
                F.expr(
                    "flatten(transform(docs, (x, i) -> "
                    "transform(slice(docs, i + 2, size(docs)), "
                    "y -> named_struct('id_a', x, 'id_b', y))))"
                )
            ).alias("pr")
        )
        .select("pr.id_a", "pr.id_b")
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("shared_frames"))
    )
    return (
        pairs.join(
            sizes.select(F.col("asset_id").alias("id_a"), F.col("n_fr").alias("__na")),
            "id_a",
        )
        .join(
            sizes.select(F.col("asset_id").alias("id_b"), F.col("n_fr").alias("__nb")),
            "id_b",
        )
        .filter(
            F.col("shared_frames") * 10000
            >= VIDEO_NEAR_DUP_MIN_BP * F.least("__na", "__nb")
        )
        .select(
            "id_a",
            "id_b",
            "shared_frames",
            F.expr("shared_frames * 10000 DIV least(__na, __nb)").alias(
                "containment_bp"
            ),
        )
    )


@register("video_near_dup_frames", VIDEO_NEAR_DUP_ORACLE)
def video_near_dup_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import sample_frames

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 2 == 0
    ).select("doc_id", "text", "n_chars")
    mutated = docs.select(
        (F.col("doc_id") + ID_OFFSET).alias("doc_id"),
        F.concat(F.lit("Q"), F.expr("substr(text, 2)")).alias("text"),
        "n_chars",
    )
    frames = sample_frames(_video_assets(docs.unionByName(mutated)), every_ms=1000)
    return _video_frame_pairs(frames)


# ---------------------------------------------------------------------------
# Inverted-index construction (round 4): token -> document-frequency +
# the first 20 postings (sorted doc_ids), for tokens appearing in >= 5
# documents, top 100 by df. The build step of BM25/boolean retrieval —
# bm25_search (plans/quality.py) scores against exactly this posting
# structure.
#
# Scale: explode -> per-doc distinct -> a plain count(*) hash aggregate
# gives df (constant aggregation state per token — no list is ever
# buffered there); the top-100 selection is TakeOrderedAndProject, never
# a global sort. Postings are then computed ONLY for the surviving
# tokens (broadcast semi-join of the 100-token list back onto the token
# stream) and BOUNDED BEFORE COLLECTING: row_number() OVER (PARTITION BY
# tok ORDER BY doc_id) <= CAP keeps <= 20 rows per token, so the
# collect_list that follows aggregates at most 20 elements per token.
# A heavy-hitter token ("the") never materializes its full document
# list in any aggregation buffer — its rows flow through the window
# operator's spillable sort instead. At 100 TB the full (uncapped)
# index would be written table-partitioned by token-hash with the same
# row_number bound per posting page.
# ---------------------------------------------------------------------------
INVERTED_INDEX_ORACLE = r"""
WITH toks AS (
  SELECT DISTINCT doc_id,
         unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
  FROM documents
), postings AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS df,
         array_to_string(list_sort(list(doc_id))[1:20], ',') AS first_postings
  FROM toks
  GROUP BY tok
)
SELECT tok, df, first_postings
FROM postings
WHERE df >= 5
ORDER BY df DESC, tok
LIMIT 100
"""


@register("inverted_index_postings", INVERTED_INDEX_ORACLE)
def inverted_index_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.array_distinct(words_col(F.col("text")))).alias("tok")
    # two consumers (df aggregate + postings branch): tokenize once
    ).localCheckpoint(eager=False)
    # df from a constant-state aggregate; top-100 is TakeOrderedAndProject
    top = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") >= 5)
        .orderBy(F.col("df").desc(), "tok")
        .limit(100)
    )
    # postings only for surviving tokens, bounded BEFORE any collect:
    # row_number keeps <=20 rows/token through a spillable window sort,
    # so the collect_list below aggregates at most 20 elements per token
    survivors = toks.join(F.broadcast(top.select("tok")), "tok", "left_semi")
    first20 = (
        survivors.withColumn(
            "__rn", F.row_number().over(W.partitionBy("tok").orderBy("doc_id"))
        )
        .filter(F.col("__rn") <= 20)
        .groupBy("tok")
        .agg(
            F.array_join(F.array_sort(F.collect_list("doc_id")), ",").alias(
                "first_postings"
            )
        )
    )
    return (
        top.join(first20, "tok")
        .select("tok", "df", "first_postings")
        .orderBy(F.col("df").desc(), "tok")
    )


# ===========================================================================
# Round-5 additions
# ===========================================================================

# ---------------------------------------------------------------------------
# Deterministic reservoir sample: exactly k rows per group, chosen by a
# multiplicative hash of the key (Knuth's 2654435761) — the reproducible
# per-stratum sample a training pipeline uses for eval slices and data
# cards. Exact integer arithmetic, so the "random" order is
# cross-engine-identical and oracle-checkable.
#
# Scale: Spark plans the rank filter as a WindowGroupLimit — every task
# keeps at most k rows PER GROUP map-side before the single shuffle, so
# shuffle volume is #tasks x #groups x k rows no matter how large the
# input (pinned by test_plan_shape.py). Never a per-group collect.
# ---------------------------------------------------------------------------
# Knuth multiplicative hash computed MOD 2^32 with the multiplication
# decomposed into 16-bit halves so no intermediate exceeds 2^49 — a
# direct key*2654435761 overflows BIGINT (ANSI error) once keys pass
# ~3.5e9, i.e. exactly at the scale this operator exists for. The
# decomposition is bit-identical to (key * C) mod 2^32 for every
# non-negative 64-bit key, in both engines:
#   ((key mod 2^32) div 2^16 * C mod 2^32) * 2^16 + (key mod 2^16) * C
# all taken mod 2^32.
_RESERVOIR_HASH_DUCK = (
    "((((o_orderkey % 4294967296) // 65536) * 2654435761 % 4294967296)"
    " * 65536 + (o_orderkey % 65536) * 2654435761) % 4294967296"
)
_RESERVOIR_HASH_SPARK = (
    "pmod(pmod((pmod(o_orderkey, 4294967296) div 65536) * 2654435761,"
    " 4294967296) * 65536 + pmod(o_orderkey, 65536) * 2654435761,"
    " 4294967296)"
)

RESERVOIR_ORACLE = f"""
SELECT o_orderpriority, o_orderkey, CAST(rn AS INT) AS sample_rank
FROM (
  SELECT o_orderpriority, o_orderkey,
         ROW_NUMBER() OVER (
           PARTITION BY o_orderpriority
           ORDER BY {_RESERVOIR_HASH_DUCK}, o_orderkey
         ) AS rn
  FROM orders
)
WHERE rn <= 5
"""


@register("reservoir_sample_per_group", RESERVOIR_ORACLE)
def reservoir_sample_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    orders = load_table(spark, sf_dir, "orders")
    h = F.expr(_RESERVOIR_HASH_SPARK)
    w = W.partitionBy("o_orderpriority").orderBy(h, "o_orderkey")
    return (
        orders.select(
            "o_orderpriority",
            "o_orderkey",
            F.row_number().over(w).alias("sample_rank"),
        )
        .filter(F.col("sample_rank") <= 5)
    )


# ---------------------------------------------------------------------------
# Bloom-prefiltered decontamination: same exact n-gram contamination
# semantics as decontaminate_ngrams (bit-identical output — the filter
# only PRUNES; an exact join confirms every hit), but the benchmark
# shingle set is first folded into an EXPLICIT reusable bloom bitset
# (operators/bloom.py) probed as pure codegen'd expressions on the
# corpus side.
#
# Scale: this is the cross-JOB version of the runtime bloom filters
# Spark injects within one query — at 100 TB the filter is built once
# from the bounded benchmark side (driver traffic = the bitset, never
# the data) and pushed into every corpus scan of a recurring
# decontamination run; only surviving (maybe-contaminated) shingles pay
# the exact verify join. FP rate is a pruning-efficiency knob, not a
# correctness one.
# ---------------------------------------------------------------------------
DECONTAM_BLOOM_ORACLE = r"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS words
  FROM documents
),
sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(range(1, len(words) - 2),
                i -> array_to_string(words[i:i+3], ' ')))) AS s
  FROM w WHERE len(words) >= 4
),
bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 89 = 0),
corpus AS (SELECT doc_id, s FROM sh WHERE doc_id % 89 <> 0)
SELECT c.doc_id, CAST(COUNT(DISTINCT c.s) AS BIGINT) AS n_hits
FROM corpus c JOIN bench b ON c.s = b.s
GROUP BY c.doc_id
"""


@register("decontaminate_bloom", DECONTAM_BLOOM_ORACLE)
def decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bloom import build_bloom_bits, might_contain
    from ..operators.dedup_text import shingle_docs

    docs = load_table(spark, sf_dir, "documents")
    k = 4  # 4-word shingles (distinct from decontaminate_ngrams' 5)
    bench_sh = (
        shingle_docs(docs.filter(F.col("doc_id") % 89 == 0), "doc_id", "text", k=k)
        .select("__s")
        .distinct()
        .localCheckpoint(eager=False)  # built once, used twice (bits + verify)
    )
    # ~14 bits/element at this fixture's benchmark size; at production
    # scale size from a count of the bounded benchmark side the same way
    n = bench_sh.count()
    n_bits = 1 << max(14, (8 * n).bit_length())
    bloom = build_bloom_bits(bench_sh, "__s", n_bits=n_bits)
    corpus = shingle_docs(
        docs.filter(F.col("doc_id") % 89 != 0), "doc_id", "text", k=k
    )
    pruned = corpus.filter(might_contain(F.col("__s"), bloom))
    return (
        pruned.join(F.broadcast(bench_sh), "__s")  # exact verify kills FPs
        .groupBy("doc_id")
        .agg(F.count_distinct("__s").alias("n_hits"))
    )


# ---------------------------------------------------------------------------
# Categorical label encoding: map each distinct category to a dense
# integer id in lexicographic order (feature-store prep for any model
# that wants integer categoricals). The id assignment REUSES the
# size-adaptive sequential-id operator: dictionary-sized inputs take
# the single-window plan; adversarially large category spaces the
# two-phase range-partitioned form — never a single-partition window
# over the FACT side either way, because ids are assigned on the
# distinct relation and joined back.
#
# Scale: distinct -> id assignment on the dictionary -> broadcast join
# back (a label dictionary is bounded by definition; for an unbounded
# "categorical" drop the hint and let AQE decide).
# ---------------------------------------------------------------------------
LABEL_ENCODE_ORACLE = """
SELECT p_partkey, p_brand,
       DENSE_RANK() OVER (ORDER BY p_brand) AS brand_id
FROM part
"""


@register("categorical_label_encode", LABEL_ENCODE_ORACLE)
def categorical_label_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ids import assign_sequential_ids

    part = load_table(spark, sf_dir, "part")
    brands = part.select(F.col("p_brand").alias("__brand")).distinct().localCheckpoint(
        eager=False
    )
    # hint with the DICTIONARY's own cardinality (|part| would flip a
    # constant 25-brand dictionary onto the two-phase path at sf>=20);
    # the distinct relation is materialized once for the count + ids
    encoded = assign_sequential_ids(
        brands, "brand_id", [F.col("__brand")], n_hint=brands.count()
    )
    return (
        part.join(F.broadcast(encoded), part.p_brand == encoded.__brand)
        .select("p_partkey", "p_brand", "brand_id")
    )


# ---------------------------------------------------------------------------
# Linear interpolation of masked sensor values (the two-sided upgrade of
# forward_fill_locf): each masked reading is reconstructed from its
# nearest non-null neighbors on both sides, time-weighted. Emitted as
# the EXACT integer pair (num, den) with num/den = the interpolated
# cents value — num = prev*us_to_next + next*us_from_prev,
# den = us_between_neighbors — so the output is hash-stable across
# engines (the float division is the caller's last step).
#
# Scale: one shuffle on user_id; both neighbor lookups are
# IGNORE-NULLS first/last over running frames — O(1) state per row,
# never a self-join against the nearest non-null row.
# ---------------------------------------------------------------------------
LINEAR_INTERP_ORACLE = """
WITH masked AS (
  SELECT event_id, user_id, ts,
         event_id % 4 = 0 AS masked,
         CASE WHEN event_id % 4 = 0 THEN NULL
              ELSE CAST(ROUND(value * 100) AS BIGINT) END AS v
  FROM events
), nbr AS (
  SELECT event_id, user_id, ts, masked, v,
         LAST_VALUE(v IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_v,
         LAST_VALUE(CASE WHEN v IS NOT NULL THEN ts END IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_ts,
         FIRST_VALUE(v IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_v,
         FIRST_VALUE(CASE WHEN v IS NOT NULL THEN ts END IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_ts
  FROM masked
)
SELECT event_id, user_id, masked,
       CASE WHEN masked
            THEN prev_v * date_diff('microseconds', ts, next_ts)
                 + next_v * date_diff('microseconds', prev_ts, ts)
            ELSE v END AS filled_num,
       CASE WHEN masked
            THEN date_diff('microseconds', prev_ts, next_ts)
            ELSE 1 END AS filled_den
FROM nbr
"""


@register("linear_interpolate", LINEAR_INTERP_ORACLE)
def linear_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    events = load_table(spark, sf_dir, "events")
    masked = events.select(
        "event_id",
        "user_id",
        "ts",
        (F.col("event_id") % 4 == 0).alias("masked"),
        F.when(F.col("event_id") % 4 == 0, F.lit(None))
        .otherwise(F.expr("CAST(ROUND(value * 100) AS BIGINT)"))
        .alias("v"),
    )
    base = W.partitionBy("user_id").orderBy("ts", "event_id")
    wp = base.rowsBetween(W.unboundedPreceding, -1)
    wn = base.rowsBetween(1, W.unboundedFollowing)
    nn_ts = F.when(F.col("v").isNotNull(), F.col("ts"))
    nbr = masked.select(
        "event_id",
        "user_id",
        "ts",
        "masked",
        "v",
        F.last("v", ignorenulls=True).over(wp).alias("prev_v"),
        F.last(nn_ts, ignorenulls=True).over(wp).alias("prev_ts"),
        F.first("v", ignorenulls=True).over(wn).alias("next_v"),
        F.first(nn_ts, ignorenulls=True).over(wn).alias("next_ts"),
    )
    us_to_next = F.expr("timestampdiff(MICROSECOND, ts, next_ts)")
    us_from_prev = F.expr("timestampdiff(MICROSECOND, prev_ts, ts)")
    us_span = F.expr("timestampdiff(MICROSECOND, prev_ts, next_ts)")
    return nbr.select(
        "event_id",
        "user_id",
        "masked",
        F.when(
            F.col("masked"),
            F.col("prev_v") * us_to_next + F.col("next_v") * us_from_prev,
        )
        .otherwise(F.col("v"))
        .alias("filled_num"),
        F.when(F.col("masked"), us_span).otherwise(F.lit(1)).cast("long").alias("filled_den"),
    )


# ---------------------------------------------------------------------------
# Incremental dedup (round 5): a NEW batch of documents deduplicated
# against the EXISTING corpus via the persisted signature store — the
# daily-crawl shape of minhash dedup. The corpus side self-join never
# happens: only batch bands probe corpus bands (asymmetric equi-join),
# so each increment costs O(|batch| + collisions), not O(|corpus|^2)
# or even O(|corpus|) pair work. In production the corpus signature
# relation is the persisted store (sources/table_store.py) appended
# per batch; here both sides recompute from the same fixture so the
# oracle can mirror them. Same planted near-copies and band law as
# dedup_minhash_lsh (operators/dedup_text.py).
# ---------------------------------------------------------------------------
INCREMENTAL_LSH_ORACLE = f"""
WITH all_docs AS ({SQL_NEAR_COPIES}),
sh AS ({SQL_SHINGLES}),
sigs AS ({" UNION ALL ".join(_sql_band_bucket(b) for b in range(BANDS))})
SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS corpus_id
FROM sigs n JOIN sigs c
  ON n.band = c.band AND n.bucket = c.bucket
WHERE n.doc_id % 10 = 0 AND c.doc_id % 10 <> 0
"""


@register("dedup_incremental_lsh", INCREMENTAL_LSH_ORACLE)
def dedup_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _with_near_copies(load_table(spark, sf_dir, "documents"))
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    sig_batch = minhash_signatures(
        batch, "doc_id", "text", k=3, bands=BANDS, rows_per_band=ROWS_PER_BAND
    )
    # the corpus signature store: persisted in production, recomputed
    # here; the join below touches it only at its (band, bucket) keys
    sig_corpus = minhash_signatures(
        corpus, "doc_id", "text", k=3, bands=BANDS, rows_per_band=ROWS_PER_BAND
    )
    return (
        sig_batch.alias("n")
        .join(
            sig_corpus.alias("c"),
            (F.col("n.band") == F.col("c.band"))
            & (F.col("n.bucket") == F.col("c.bucket")),
        )
        .select(
            F.col("n.doc_id").alias("new_id"), F.col("c.doc_id").alias("corpus_id")
        )
        .distinct()
    )


# ---------------------------------------------------------------------------
# Forward as-of join (round 5): view-to-NEXT-purchase conversion — the
# time-to-convert companion of asof_join_attribution's last-view
# lookback, via the same operator's direction="forward" mode (one
# union + one ordered window, never a range join).
# ---------------------------------------------------------------------------
ASOF_FWD_ORACLE = """
SELECT v.event_id, v.user_id, v.ts, p.ts AS next_ts, p.value AS next_value
FROM (SELECT * FROM events WHERE event_type = 'view') v
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON v.user_id = p.user_id AND v.ts <= p.ts
"""


@register("asof_join_forward", ASOF_FWD_ORACLE)
def asof_join_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    views = events.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    return asof_join(
        views,
        purchases,
        on=["user_id"],
        ts="ts",
        values=["value"],
        prefix="next_",
        direction="forward",
    )


# ---------------------------------------------------------------------------
# Top-k per group WITH TIES (round 5): RANK-based group limit — unlike
# topk_per_group's row_number cut, boundary ties all survive, which is
# the semantically right "top 3 prices" when several orders share the
# 3rd price. Spark plans the rank filter as a map-side WindowGroupLimit
# too (rank mode): each task keeps its own potential top-k (plus ties)
# before the single shuffle.
# ---------------------------------------------------------------------------
TOPK_TIES_ORACLE = """
SELECT o_orderpriority, o_orderkey,
       CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_cents,
       CAST(rk AS INT) AS price_rank
FROM (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         RANK() OVER (PARTITION BY o_orderpriority
                      ORDER BY CAST(ROUND(o_totalprice * 100) AS BIGINT) DESC) AS rk
  FROM orders
)
WHERE rk <= 3
"""


@register("topk_per_group_with_ties", TOPK_TIES_ORACLE)
def topk_per_group_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    orders = load_table(spark, sf_dir, "orders")
    cents = F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)")
    w = W.partitionBy("o_orderpriority").orderBy(cents.desc())
    return (
        orders.select(
            "o_orderpriority",
            "o_orderkey",
            cents.alias("price_cents"),
            F.rank().over(w).alias("price_rank"),
        )
        .filter(F.col("price_rank") <= 3)
    )


# ---------------------------------------------------------------------------
# Min-max feature scaling per group (round 5): the standard
# normalization before distance-based models, emitted as the EXACT
# integer pair (v - min, max - min) so the output is hash-stable — the
# float division is the caller's last step; constant groups yield
# den = 0 (callers map to 0 or drop, both engines agree on the pair).
#
# Scale: ONE grouped aggregate for the (min, max) dictionary joined
# back broadcast — never a per-row window over the fact side, so the
# fact table is touched by exactly one scan + one map-side join.
# ---------------------------------------------------------------------------
MINMAX_ORACLE = """
WITH stats AS (
  SELECT l_returnflag,
         MIN(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS mn,
         MAX(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS mx
  FROM lineitem GROUP BY l_returnflag
)
SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag,
       CAST(ROUND(l.l_extendedprice * 100) AS BIGINT) - s.mn AS scaled_num,
       s.mx - s.mn AS scaled_den
FROM lineitem l JOIN stats s USING (l_returnflag)
"""


@register("feature_minmax_scale", MINMAX_ORACLE)
def feature_minmax_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    cents = F.expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)")
    stats = li.groupBy("l_returnflag").agg(
        F.min(cents).alias("__mn"), F.max(cents).alias("__mx")
    )
    return (
        li.join(F.broadcast(stats), "l_returnflag")
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_returnflag",
            (cents - F.col("__mn")).alias("scaled_num"),
            (F.col("__mx") - F.col("__mn")).alias("scaled_den"),
        )
    )


# ===========================================================================
# Round-6 additions
# ===========================================================================

# ---------------------------------------------------------------------------
# Incremental dedup, STORE-PROBING form (round 6): the production plan of
# dedup_incremental_lsh — the corpus signature relation is READ FROM THE
# PERSISTED TableStore (sources/table_store.py), not recomputed from raw
# text. This is what a daily-crawl pipeline actually executes: signatures
# are computed once per document ever (at ingest, then appended to the
# store), and each new batch pays one asymmetric (band, bucket) equi-join
# against the stored relation — O(|batch| + collisions) per increment,
# never a corpus re-shingle and never a corpus self-join. Same oracle as
# dedup_incremental_lsh: the store round-trips the signature relation
# exactly (integer band/bucket columns), so the persisted-probe result is
# bit-identical to the recomputed one.
# ---------------------------------------------------------------------------
def _incremental_lsh_store_probe(
    batch: DataFrame, sig_corpus: DataFrame
) -> DataFrame:
    """ONE asymmetric equi-join of batch bands against the stored corpus
    bands (plan-pinned: no self-join, no cartesian; see
    tests/test_plan_shape.py)."""
    sig_batch = minhash_signatures(
        batch, "doc_id", "text", k=3, bands=BANDS, rows_per_band=ROWS_PER_BAND
    )
    return (
        sig_batch.alias("n")
        .join(
            sig_corpus.alias("c"),
            (F.col("n.band") == F.col("c.band"))
            & (F.col("n.bucket") == F.col("c.bucket")),
        )
        .select(
            F.col("n.doc_id").alias("new_id"), F.col("c.doc_id").alias("corpus_id")
        )
        .distinct()
    )


@register("dedup_incremental_lsh_store", INCREMENTAL_LSH_ORACLE)
def dedup_incremental_lsh_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ..sources.table_store import TableStore

    docs = _with_near_copies(load_table(spark, sf_dir, "documents"))
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    tmp = tempfile.mkdtemp(prefix="ddw_sig_store_")
    try:
        store = TableStore(spark, tmp)
        # ingest-time signature computation, persisted once; at production
        # scale this write happens per historical batch via store.append
        store.overwrite(
            "signatures",
            minhash_signatures(
                corpus, "doc_id", "text", k=3, bands=BANDS,
                rows_per_band=ROWS_PER_BAND,
            ),
        )
        out = _incremental_lsh_store_probe(batch, store.read("signatures"))
        # detach from the temp files (block-manager copy) before cleanup
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# ---------------------------------------------------------------------------
# Bitmap exact distinct (round 6): EXACT distinct users per event type
# via fixed-width integer bitmaps — the mergeable exact-distinct
# primitive (Kylin/Druid-style): bucket ids into 64-bit words
# (word = id div 64), OR the words in one hash aggregate, then sum
# popcounts. Unlike COUNT(DISTINCT), the partial state is a bitmap
# word, so map-side combine works at every stage and rollups can merge
# saved bitmaps without rescanning facts (the exact counterpart of the
# approx_distinct_rollup HLL sketches). Precondition: non-negative
# bounded ids (true for surrogate keys by construction).
#
# Scale: shuffle volume = #distinct (group, word) pairs — for dense id
# spaces that is #ids/64 words regardless of fact row count; both
# stages are ordinary hash aggregates with partial aggregation.
# ---------------------------------------------------------------------------
BITMAP_DISTINCT_ORACLE = """
SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events GROUP BY event_type
"""


@register("bitmap_exact_distinct", BITMAP_DISTINCT_ORACLE)
def bitmap_exact_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    words = events.groupBy(
        "event_type", (F.col("user_id") / 64).cast("long").alias("__w")
    ).agg(
        F.expr("bit_or(shiftleft(1L, cast(user_id % 64 AS int)))").alias("__bits")
    )
    return words.groupBy("event_type").agg(
        F.sum(F.bit_count("__bits")).alias("n_users")
    )


# ---------------------------------------------------------------------------
# Systematic sample (round 6): every 100th order in key order — the
# auditor's deterministic coverage sample (unlike a hash sample, it is
# evenly spaced along the sort dimension, so monotone drifts in the
# data show up in the sample). Global positions come from the
# size-adaptive sequential-id operator with a FREE parquet-footer
# row-count hint: single-window at test scale, two-phase
# range-partitioned beyond WINDOW_FORM_MAX_ROWS — never an unbounded
# single-partition sort.
# ---------------------------------------------------------------------------
SYSTEMATIC_ORACLE = """
SELECT o_orderkey, rn AS sample_pos
FROM (SELECT o_orderkey,
             ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn
      FROM orders)
WHERE (rn - 1) % 100 = 0
"""


@register("systematic_sample", SYSTEMATIC_ORACLE)
def systematic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ids import assign_sequential_ids
    from ..sources.parquet import table_row_count

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey")
    ranked = assign_sequential_ids(
        orders,
        "sample_pos",
        [F.col("o_orderkey")],
        n_hint=table_row_count(sf_dir, "orders"),
    )
    return ranked.filter((F.col("sample_pos") - 1) % 100 == 0)


# ---------------------------------------------------------------------------
# MinHash Jaccard ESTIMATE (round 6): for every LSH candidate pair, the
# fraction of matching minhash minima — the estimator pipelines use to
# rank/threshold candidates WITHOUT touching document text again
# (E[n_match / n_perms] = exact Jaccard). Emitted as the exact pair
# (n_match, n_perms); deterministic given the engine's fixed md5-slice
# permutations, so the oracle reproduces it bit-for-bit. Complements
# dedup_ngram_jaccard, which re-reads text for the EXACT verify.
#
# Scale: signature vectors are computed once (one explode + grouped MIN
# aggregate) and checkpointed; candidates come from the banded
# equi-join (never all-pairs); the estimate join touches only candidate
# ids against the n_perms-column minima relation.
# ---------------------------------------------------------------------------
_N_PERMS = BANDS * ROWS_PER_BAND

_SQL_MINS = (
    "SELECT doc_id, "
    + ", ".join(
        f"list_min(list_transform(shingles, s -> {_sql_perm_hash(j)})) AS m{j}"
        for j in range(_N_PERMS)
    )
    + " FROM sh"
)

_SQL_SIGS_FROM_MINS = " UNION ALL ".join(
    "SELECT doc_id, {b} AS band, md5(concat_ws('|', {ms})) AS bucket FROM mins".format(
        b=b,
        ms=", ".join(f"m{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)),
    )
    for b in range(BANDS)
)

MINHASH_EST_ORACLE = f"""
WITH all_docs AS ({SQL_NEAR_COPIES}),
sh AS ({SQL_SHINGLES}),
mins AS ({_SQL_MINS}),
sigs AS ({_SQL_SIGS_FROM_MINS}),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sigs a JOIN sigs b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
)
SELECT p.id_a, p.id_b,
       CAST({" + ".join(f"CASE WHEN x.m{j} = y.m{j} THEN 1 ELSE 0 END" for j in range(_N_PERMS))} AS INT) AS n_match,
       {_N_PERMS} AS n_perms
FROM pairs p
JOIN mins x ON p.id_a = x.doc_id
JOIN mins y ON p.id_b = y.doc_id
"""


@register("minhash_jaccard_estimate", MINHASH_EST_ORACLE)
def minhash_jaccard_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup_text import minhash_minima

    docs = _with_near_copies(load_table(spark, sf_dir, "documents"))
    shingled = shingle_docs(docs, "doc_id", "text", k=3)
    # signature vectors once, reused by bucketing AND the estimate join
    mins = minhash_minima(shingled, "doc_id", _N_PERMS).localCheckpoint(eager=False)
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    "|",
                    *[F.col(f"__m{b * ROWS_PER_BAND + r}") for r in range(ROWS_PER_BAND)],
                )
            ).alias("bucket"),
        )
        for b in range(BANDS)
    ]
    sigs = mins.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("bb")
    ).select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    pairs = lsh_candidate_pairs(sigs, "doc_id")
    ax = mins.select(
        F.col("doc_id").alias("id_a"),
        *[F.col(f"__m{j}").alias(f"__a{j}") for j in range(_N_PERMS)],
    )
    bx = mins.select(
        F.col("doc_id").alias("id_b"),
        *[F.col(f"__m{j}").alias(f"__b{j}") for j in range(_N_PERMS)],
    )
    n_match = sum(
        F.when(F.col(f"__a{j}") == F.col(f"__b{j}"), 1).otherwise(0)
        for j in range(_N_PERMS)
    )
    return (
        pairs.join(ax, "id_a")
        .join(bx, "id_b")
        .select(
            "id_a",
            "id_b",
            n_match.cast("int").alias("n_match"),
            F.lit(_N_PERMS).alias("n_perms"),
        )
    )


# ---------------------------------------------------------------------------
# KMV distinct-intersection estimate (round 6): k-minimum-values
# sketches (Bar-Yossef et al. 2002; Beyer et al. 2007 for the
# intersection form) of the click-user and purchase-user sets, merged
# to estimate |A INTERSECT B| WITHOUT a distinct-count over the
# intersection — the mergeable primitive for audience-overlap /
# cross-dataset-contamination questions when the sets live in
# different partitions or different days' sketches. Deterministic:
# ids hash through the engine's md5-slice (32-bit), so sketch contents
# and the estimate reproduce bit-for-bit on both engines; the exact
# intersection is emitted alongside for self-validation.
#
# Scale: per-set k smallest distinct hashes via a rank<=k window that
# compiles to a map-side WindowGroupLimit (shuffle volume ~= #tasks *
# k, not #distinct); every downstream relation is k-bounded (the
# merged sketch, the membership joins, the 1-row output). The exact
# companion is one extra hash aggregate over the same deduped
# (type,user) relation.
# ---------------------------------------------------------------------------
_KMV_K = 64
_KMV_SPARK_H = "CAST(CONV(SUBSTR(md5(CAST(user_id AS STRING)), 1, 8), 16, 10) AS BIGINT)"
_KMV_DUCK_H = "('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT"

KMV_ORACLE = f"""
WITH du AS (
  SELECT DISTINCT event_type, user_id FROM events
  WHERE event_type IN ('click', 'purchase')
), hashed AS (
  SELECT DISTINCT event_type, {_KMV_DUCK_H} AS h FROM du
), sk AS (
  SELECT event_type, h FROM hashed
  QUALIFY ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) <= {_KMV_K}
), merged AS (
  SELECT h, COUNT(*) AS n_sets FROM sk GROUP BY h
  QUALIFY ROW_NUMBER() OVER (ORDER BY h) <= {_KMV_K}
), stats AS (
  SELECT MAX(h) AS kth_min,
         CAST(COUNT(*) FILTER (n_sets = 2) AS BIGINT) AS n_both
  FROM merged
), exact AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS exact_intersection
  FROM (SELECT user_id FROM du GROUP BY user_id HAVING COUNT(*) = 2)
)
SELECT {_KMV_K} AS k, kth_min, n_both,
       ROUND(CAST(n_both AS DOUBLE) / {_KMV_K}.0
             * ({_KMV_K}.0 - 1.0) * 4294967296.0 / CAST(kth_min AS DOUBLE), 2)
         AS est_intersection,
       exact_intersection
FROM stats, exact
"""


@register("kmv_distinct_intersection", KMV_ORACLE)
def kmv_distinct_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    # the deduped (type, user) relation feeds both the sketch chain and
    # the exact companion — a lazy checkpoint shares ONE fact scan +
    # dedup between them instead of recomputing the subtree per consumer
    du = (
        events.filter(F.col("event_type").isin("click", "purchase"))
        .select("event_type", "user_id")
        .distinct()
        .localCheckpoint(eager=False)
    )
    hashed = du.select("event_type", F.expr(_KMV_SPARK_H).alias("h")).distinct()
    # rank<=k compiles to WindowGroupLimit: each task forwards only its
    # local k smallest hashes per set
    sk = (
        hashed.withColumn(
            "__r", F.row_number().over(W.partitionBy("event_type").orderBy("h"))
        )
        .filter(F.col("__r") <= _KMV_K)
        .drop("__r")
    )
    merged = (
        sk.groupBy("h")
        .agg(F.count("*").alias("n_sets"))
        .withColumn("__r", F.row_number().over(W.orderBy("h")))
        .filter(F.col("__r") <= _KMV_K)
    )
    stats = merged.agg(
        F.max("h").alias("kth_min"),
        F.sum(F.when(F.col("n_sets") == 2, 1).otherwise(0)).alias("n_both"),
    )
    exact = (
        du.groupBy("user_id")
        .agg(F.count("*").alias("__c"))
        .filter(F.col("__c") == 2)
        .agg(F.count("*").alias("exact_intersection"))
    )
    est = (
        F.col("n_both").cast("double")
        / _KMV_K
        * (_KMV_K - 1.0)
        * 4294967296.0
        / F.col("kth_min").cast("double")
    )
    return stats.crossJoin(F.broadcast(exact)).select(
        F.lit(_KMV_K).alias("k"),
        "kth_min",
        "n_both",
        F.round(est, 2).alias("est_intersection"),
        "exact_intersection",
    )


# ---------------------------------------------------------------------------
# Count-min sketch frequency estimate (round 6, Cormode & Muthukrishnan
# 2005): per-user event frequencies summarized into a depth-4 x
# width-512 counter grid (increment cell (j, h_j(user)) per event),
# point-queried for eight probe users as min over the 4 rows — the
# fixed-memory frequency primitive whose ESTIMATE >= EXACT always
# (one-sided error), with the exact counts emitted alongside.
# Deterministic md5-slice row hashes reproduce on both engines.
#
# Scale: the build is one hash aggregate over a 4x map-side expansion
# (posexplode of the row index) whose output is the 2048-cell grid
# regardless of input size; probes join that grid broadcast. The exact
# companion prunes to the probe ids BEFORE aggregating (PushedFilters
# carries user_id IN (...) to the scan).
# ---------------------------------------------------------------------------
_CMS_D, _CMS_W = 4, 512
_CMS_PROBES = tuple(range(8))


def _cms_spark_bucket(j: str) -> str:
    return (
        f"CAST(CONV(SUBSTR(md5(CONCAT(CAST({j} AS STRING), ':', CAST(user_id AS STRING))), 1, 8), 16, 10)"
        f" AS BIGINT) % {_CMS_W}"
    )


def _cms_duck_bucket(j: str) -> str:
    return (
        f"('0x' || substr(md5(CONCAT(CAST({j} AS VARCHAR), ':', CAST(user_id AS VARCHAR))), 1, 8))::BIGINT"
        f" % {_CMS_W}"
    )


COUNTMIN_ORACLE = f"""
WITH cells AS (
  SELECT j, {_cms_duck_bucket("j")} AS bucket, CAST(COUNT(*) AS BIGINT) AS c
  FROM events, (SELECT unnest(generate_series(0, {_CMS_D - 1})) AS j)
  GROUP BY 1, 2
), probes AS (
  SELECT u.user_id, p.j, {_cms_duck_bucket("p.j")} AS bucket
  FROM (SELECT unnest(ARRAY{list(_CMS_PROBES)}) AS user_id) u,
       (SELECT unnest(generate_series(0, {_CMS_D - 1})) AS j) p
), est AS (
  SELECT p.user_id, MIN(c.c) AS est_events
  FROM probes p JOIN cells c ON p.j = c.j AND p.bucket = c.bucket
  GROUP BY 1
), exact AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_events
  FROM events WHERE user_id IN {_CMS_PROBES} GROUP BY 1
)
SELECT e.user_id, e.est_events, x.exact_events
FROM est e JOIN exact x ON e.user_id = x.user_id
"""


@register("countmin_frequency", COUNTMIN_ORACLE)
def countmin_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    rows = F.array(*[F.lit(j) for j in range(_CMS_D)])
    cells = (
        events.select("user_id", F.explode(rows).alias("j"))
        .select("j", F.expr(_cms_spark_bucket("j")).alias("bucket"))
        .groupBy("j", "bucket")
        .agg(F.count("*").alias("c"))
    )
    probes = (
        spark.createDataFrame([(u,) for u in _CMS_PROBES], "user_id long")
        .select("user_id", F.explode(rows).alias("j"))
        .select("user_id", "j", F.expr(_cms_spark_bucket("j")).alias("bucket"))
    )
    est = (
        cells.join(F.broadcast(probes), ["j", "bucket"])
        .groupBy("user_id")
        .agg(F.min("c").alias("est_events"))
    )
    exact = (
        events.filter(F.col("user_id").isin(*_CMS_PROBES))
        .groupBy("user_id")
        .agg(F.count("*").alias("exact_events"))
    )
    return est.join(F.broadcast(exact), "user_id")


# ---------------------------------------------------------------------------
# Feature hashing / hashing trick (round 6, Weinberger et al. 2009):
# documents vectorized into a FIXED 256-dimension sparse term-frequency
# vector by hashing each token to a bucket, with a second independent
# hash bit supplying the +/-1 sign that keeps collisions unbiased
# (E[<phi(a), phi(b)>] = <a, b>). The vocabulary-free vectorizer for
# ML featurization at corpus scale: no dictionary build, no OOV set,
# output width fixed no matter how the vocabulary grows. Deterministic
# md5 bucket/sign hashes reproduce on both engines; a doc subset keeps
# the demonstration output bounded.
#
# Scale: tokenize -> explode -> ONE hash aggregate on (doc, bucket)
# with map-side combine; rows out <= docs * 256 regardless of
# vocabulary; no joins, no windows, no driver collection.
# ---------------------------------------------------------------------------
_FH_DIM = 256

FEATURE_HASH_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
  FROM documents WHERE doc_id % 25 = 0
)
SELECT doc_id,
       CAST(('0x' || substr(md5('fh:' || tok), 1, 8))::BIGINT % {_FH_DIM} AS INT) AS bucket,
       CAST(SUM(CASE WHEN substr(md5('fhs:' || tok), 1, 1)
                          IN ('0','1','2','3','4','5','6','7')
                     THEN 1 ELSE -1 END) AS BIGINT) AS feat_val
FROM toks GROUP BY 1, 2
"""


@register("feature_hashing", FEATURE_HASH_ORACLE)
def feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup_text import words_col

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 25 == 0)
    toks = docs.select("doc_id", F.explode(words_col(F.col("text"))).alias("tok"))
    bucket = F.expr(
        f"CAST(CAST(CONV(SUBSTR(md5(CONCAT('fh:', tok)), 1, 8), 16, 10) AS BIGINT) % {_FH_DIM} AS INT)"
    )
    sign = F.when(
        F.substring(F.md5(F.concat(F.lit("fhs:"), F.col("tok"))), 1, 1).isin(*"01234567"),
        1,
    ).otherwise(-1)
    return (
        toks.select("doc_id", bucket.alias("bucket"), sign.alias("s"))
        .groupBy("doc_id", "bucket")
        .agg(F.sum("s").alias("feat_val"))
    )


# ---------------------------------------------------------------------------
# Trailing-window distinct users per day (round 6): for every calendar
# day, how many DISTINCT users were active in the trailing 7 days — the
# rolling-MAU/WAU metric. COUNT(DISTINCT) does not slide, so the naive
# forms are a 7x contribution explode (shuffles 7x the deduped pairs)
# or a per-day range self-join (quadratic in span). This is the
# sweep-line form: per user, consecutive active days merge into
# coverage intervals [first, last+6] (gap > 6 days starts a new
# interval — the same islands trick as user_day_streaks, applied to
# coverage); each interval emits +1/-1 boundary deltas; a running sum
# over the day spine yields the exact distinct count per day with NO
# distinct aggregation at all.
#
# Scale: dedup to (user, day) is one fact-sized aggregate; the island
# window partitions BY USER (parallel, short partitions); delta volume
# = 2 * #intervals <= 2 * #(user,day) pairs; only the final running
# sum over the CALENDAR-BOUNDED day spine is single-partition.
# ---------------------------------------------------------------------------
SLIDING_DISTINCT_ORACLE = """
WITH bounds AS (
  SELECT CAST(min(date_trunc('day', ts)) AS DATE) AS lo,
         CAST(max(date_trunc('day', ts)) AS DATE) AS hi
  FROM events
), days AS (
  SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS d FROM bounds
)
SELECT CAST(d AS TIMESTAMP) AS d,
       CAST((SELECT COUNT(DISTINCT e.user_id) FROM events e
             WHERE date_trunc('day', e.ts) BETWEEN d - INTERVAL 6 DAY AND d)
            AS BIGINT) AS users_7d
FROM days
"""


@register("sliding_distinct_users", SLIDING_DISTINCT_ORACLE)
def sliding_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    ud = events.select(
        "user_id", F.date_trunc("DAY", "ts").cast("date").alias("day")
    ).distinct()
    byu = W.partitionBy("user_id").orderBy("day")
    flagged = ud.select(
        "user_id",
        "day",
        F.when(
            F.datediff(F.col("day"), F.lag("day").over(byu)) > 6, 1
        )
        .otherwise(0)
        .alias("new_island"),
    )
    islands = flagged.select(
        "user_id",
        "day",
        F.sum("new_island")
        .over(byu.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("island"),
    )
    intervals = islands.groupBy("user_id", "island").agg(
        F.min("day").alias("start"),
        F.date_add(F.max("day"), 7).alias("after_end"),  # exclusive: last+6 covers, +7 stops
    )
    # both boundary deltas from ONE pass over intervals (a union here
    # would recompute the whole fact subtree per branch), then the
    # day-grain aggregate — calendar-bounded — is pinned with an eager
    # checkpoint so the spine bounds and the sweep join share ONE fact
    # scan between them
    deltas = (
        intervals.select(
            F.explode(
                F.array(
                    F.struct(F.col("start").alias("d"), F.lit(1).alias("delta")),
                    F.struct(F.col("after_end").alias("d"), F.lit(-1).alias("delta")),
                )
            ).alias("b")
        )
        .select("b.d", "b.delta")
        .groupBy("d")
        .agg(F.sum("delta").alias("delta"))
        .localCheckpoint(eager=True)
    )
    # spine bounds derived from the checkpointed deltas: min(d) is the
    # earliest interval start = first active day; max(d) is the latest
    # exclusive end = last active day + 7
    bounds = deltas.agg(
        F.min("d").alias("lo"), F.date_sub(F.max("d"), 7).alias("hi")
    )
    spine = bounds.select(F.explode(F.sequence("lo", "hi")).alias("d"))
    joined = spine.join(deltas, "d", "left").select(
        "d", F.coalesce("delta", F.lit(0)).alias("delta")
    )
    # single-partition running sum over the calendar-bounded spine only
    run = W.orderBy("d").rowsBetween(W.unboundedPreceding, W.currentRow)
    return joined.select(
        F.col("d").cast("timestamp").alias("d"),
        F.sum("delta").over(run).cast("long").alias("users_7d"),
    )


# ---------------------------------------------------------------------------
# File-level data skipping as a checked query (VERDICT r6 item 5): write
# orders into a TableStore, OPTIMIZE ZORDER on (o_custkey, epoch_days),
# then answer a selective custkey range probe through read_skipping —
# the manifest prunes whole files BEFORE any footer is opened. The
# query RAISES unless the probe provably opened a strict subset of the
# files (kept < total), so the driver's green row certifies the
# pruning, not just the values; results are bit-equal to the plain
# filtered oracle by construction (skipping only drops files whose
# [min, max] cannot intersect the probe).
#
# Scale: the probe cost is O(matching files), not O(table files) —
# Spark's own reader prunes row groups only INSIDE files it already
# listed and opened; the manifest prunes the listing itself, which is
# the difference that matters at 100 TB (see sources/table_store.py).
# ---------------------------------------------------------------------------
READ_SKIPPING_ORACLE = """
SELECT o_orderkey, o_custkey,
       CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
       CAST(DATE_DIFF('day', TIMESTAMP '1992-01-01 00:00:00', o_orderdate) AS INT) AS epoch_days
FROM orders WHERE o_custkey BETWEEN 101 AND 175
"""


@register("read_skipping", READ_SKIPPING_ORACLE)
def read_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ..sources.table_store import TableStore

    sel = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").alias("cents"),
        F.expr("datediff(o_orderdate, DATE '1992-01-01')").alias("epoch_days"),
    )
    tmp = tempfile.mkdtemp(prefix="ddw_skip_")
    try:
        store = TableStore(spark, tmp)
        store.overwrite("orders_z", sel)
        store.optimize("orders_z", zorder_by=("o_custkey", "epoch_days"), target_files=16)
        kept, total = store.skipping_file_counts("orders_z", "o_custkey", 101, 175)
        if not kept < total:
            raise AssertionError(
                f"data skipping pruned nothing: kept {kept} of {total} files"
            )
        return (
            store.read_skipping("orders_z", "o_custkey", 101, 175)
            .select("o_orderkey", "o_custkey", "cents", "epoch_days")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# ---------------------------------------------------------------------------
# Bounded-depth BFS (round 7): minimum hop distance from a seed set of
# suppliers over the supplier<->customer trade graph — the batch analog
# of a depth-bounded recursive CTE, and the fourth iterative showcase
# (next to PageRank, connected components, k-means). The oracle unrolls
# the same three hops in SQL (frontier = neighbors minus everything
# seen); hop counts are exact, so the parity is bit-for-bit.
#
# Scale: see operators/graph.bfs_min_dist — per hop one frontier-sized
# join against the checkpointed edge relation plus an anti-join against
# visited; work is O(neighborhood), never O(graph) per hop.
# ---------------------------------------------------------------------------
BFS_SEED_MAX = 10
BFS_HOPS = 3

BFS_ORACLE = f"""
WITH raw AS (
  SELECT DISTINCT l_suppkey * 2 AS a, o_custkey * 2 + 1 AS b
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
sym AS (SELECT a AS src, b AS dst FROM raw UNION SELECT b, a FROM raw),
d0 AS (SELECT DISTINCT s_suppkey * 2 AS node FROM supplier WHERE s_suppkey <= {BFS_SEED_MAX}),
f1 AS (SELECT DISTINCT s.dst AS node FROM sym s JOIN d0 ON s.src = d0.node),
d1 AS (SELECT node FROM f1 WHERE node NOT IN (SELECT node FROM d0)),
f2 AS (SELECT DISTINCT s.dst AS node FROM sym s JOIN d1 ON s.src = d1.node),
d2 AS (SELECT node FROM f2 WHERE node NOT IN (SELECT node FROM d0 UNION ALL SELECT node FROM d1)),
f3 AS (SELECT DISTINCT s.dst AS node FROM sym s JOIN d2 ON s.src = d2.node),
d3 AS (SELECT node FROM f3 WHERE node NOT IN
       (SELECT node FROM d0 UNION ALL SELECT node FROM d1 UNION ALL SELECT node FROM d2))
SELECT node AS node_id, CAST(dist AS INT) AS dist FROM (
  SELECT node, 0 AS dist FROM d0
  UNION ALL SELECT node, 1 FROM d1
  UNION ALL SELECT node, 2 FROM d2
  UNION ALL SELECT node, 3 FROM d3
)
"""


@register("bfs_khop", BFS_ORACLE)
def bfs_khop(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import bfs_min_dist

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    # symmetrize() dedups — the query-side .distinct() was a redundant
    # exchange (see pagerank_fixed_query)
    edges = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).select(
        (F.col("l_suppkey") * 2).alias("src"),
        (F.col("o_custkey") * 2 + 1).alias("dst"),
    )
    seeds = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_suppkey") <= BFS_SEED_MAX)
        # distinct-seed invariant now lives inside the operator
        .select((F.col("s_suppkey") * 2).alias("node"))
    )
    out = bfs_min_dist(edges, seeds, max_hops=BFS_HOPS)
    return out.select(F.col("node").alias("node_id"), "dist")


# ---------------------------------------------------------------------------
# Bounded Bellman-Ford (round 7): minimum path COST within 3 hops from
# the seed suppliers over the supplier<->customer trade graph, edge
# weight = the lane's best (minimum) ship delay in days — the weighted
# companion to bfs_khop ("how cheap", not just "how far"; e.g. fastest
# 3-leg routing through the trade network). Exact integer costs; the
# oracle unrolls three FULL relaxation rounds in SQL while the Spark
# operator runs DELTA relaxation (only nodes improved last round
# expand) — equal within k rounds because every shortest <=k-edge
# path improves monotonically along its prefix rounds.
#
# Scale: see operators/graph.bellman_ford_min_cost — per round one
# frontier-adjacency join against the checkpointed weighted edge
# relation, a dst min-aggregate with map-side partials, and an
# anti-join merge into bests; work O(improved set), never O(graph).
# ---------------------------------------------------------------------------
BF_SEED_MAX = 5
BF_HOPS = 3

BELLMAN_FORD_ORACLE = f"""
WITH raw AS (
  SELECT l_suppkey * 2 AS a, o_custkey * 2 + 1 AS b,
         MIN(DATE_DIFF('day', o_orderdate, l_shipdate)) AS w
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1, 2
),
sym AS (
  SELECT src, dst, MIN(w) AS w FROM (
    SELECT a AS src, b AS dst, w FROM raw
    UNION ALL SELECT b, a, w FROM raw
  ) GROUP BY 1, 2
),
d0 AS (SELECT s_suppkey * 2 AS node, CAST(0 AS BIGINT) AS cost
       FROM supplier WHERE s_suppkey <= {BF_SEED_MAX}),
r1 AS (SELECT dst AS node, MIN(d0.cost + w) AS cost
       FROM sym JOIN d0 ON sym.src = d0.node GROUP BY 1),
d1 AS (SELECT node, MIN(cost) AS cost FROM
       (SELECT * FROM d0 UNION ALL SELECT * FROM r1) GROUP BY 1),
r2 AS (SELECT dst AS node, MIN(d1.cost + w) AS cost
       FROM sym JOIN d1 ON sym.src = d1.node GROUP BY 1),
d2 AS (SELECT node, MIN(cost) AS cost FROM
       (SELECT * FROM d1 UNION ALL SELECT * FROM r2) GROUP BY 1),
r3 AS (SELECT dst AS node, MIN(d2.cost + w) AS cost
       FROM sym JOIN d2 ON sym.src = d2.node GROUP BY 1),
d3 AS (SELECT node, MIN(cost) AS cost FROM
       (SELECT * FROM d2 UNION ALL SELECT * FROM r3) GROUP BY 1)
SELECT node AS node_id, CAST(cost AS BIGINT) AS min_cost FROM d3
"""


@register("bellman_ford_mincost", BELLMAN_FORD_ORACLE)
def bellman_ford_mincost(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import bellman_ford_min_cost

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    # raw per-lineitem weights: bellman_ford_min_cost collapses parallel
    # edges to their min weight itself (one groupBy with map-side
    # partials), so the query-side pre-aggregate was a redundant full
    # exchange of the edge relation (r12; min is associative, so the
    # collapsed weights are identical)
    edges = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).select(
        (F.col("l_suppkey") * 2).alias("src"),
        (F.col("o_custkey") * 2 + 1).alias("dst"),
        F.expr("datediff(l_shipdate, o_orderdate)").alias("w"),
    )
    seeds = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_suppkey") <= BF_SEED_MAX)
        # distinct-seed invariant now lives inside the operator
        .select((F.col("s_suppkey") * 2).alias("node"))
    )
    out = bellman_ford_min_cost(edges, seeds, max_hops=BF_HOPS)
    return out.select(F.col("node").alias("node_id"), F.col("cost").alias("min_cost"))


# ---------------------------------------------------------------------------
# Snapshot diff (round 7): reconcile two versions of a TableStore table
# without a CDC feed — every key added, removed, or changed between v1
# and v2, with old/new values. The time-travel consumption pattern
# Delta users hand-write as two AS OF reads + EXCEPT, as a store
# primitive (sources/table_store.diff); versions here are built through
# the real write path (overwrite -> merge upsert + delete-shaped
# overwrite), then diffed.
#
# Scale: the diff scans only files NOT hard-link-shared between the
# versions (inode pruning — an append's diff reads the increment, not
# the table), then one full-outer shuffle join on the key with
# null-safe change classification. The unchanged majority inside
# rewritten files cancels in the join's filter.
# ---------------------------------------------------------------------------
SNAPSHOT_DIFF_ORACLE = """
WITH v1 AS (
  SELECT o_orderkey AS k, CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
v2 AS (
  SELECT k, cents + 1000 AS cents FROM v1 WHERE k % 5 <> 0 AND k % 7 = 0
  UNION ALL
  SELECT k, cents FROM v1 WHERE k % 5 <> 0 AND k % 7 <> 0
  UNION ALL
  SELECT -k, cents FROM v1 WHERE k % 11 = 0
)
SELECT COALESCE(n.k, o.k) AS k,
       CASE WHEN o.k IS NULL THEN 'added'
            WHEN n.k IS NULL THEN 'removed'
            ELSE 'changed' END AS change,
       o.cents AS old_cents,
       n.cents AS new_cents
FROM v1 o FULL OUTER JOIN v2 n ON o.k = n.k
WHERE o.k IS NULL OR n.k IS NULL OR o.cents <> n.cents
"""


@register("snapshot_diff", SNAPSHOT_DIFF_ORACLE)
def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ..sources.table_store import TableStore

    v1_df = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    kept = v1_df.filter(F.col("k") % 5 != 0)
    v2_df = (
        kept.filter(F.col("k") % 7 == 0).select("k", (F.col("cents") + 1000).alias("cents"))
        .unionByName(kept.filter(F.col("k") % 7 != 0))
        .unionByName(
            v1_df.filter(F.col("k") % 11 == 0).select(
                (-F.col("k")).alias("k"), "cents"
            )
        )
    )
    tmp = tempfile.mkdtemp(prefix="ddw_diff_")
    try:
        store = TableStore(spark, tmp)
        v1 = store.overwrite("t", v1_df)
        v2 = store.overwrite("t", v2_df)
        return (
            store.diff("t", v1, v2, on=["k"])
            .select("k", "change", "old_cents", "new_cents")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# ---------------------------------------------------------------------------
# RESTORE + SHALLOW CLONE + CDC-on-restore round-trip (round 9, VERDICT
# r8 #8): the three round-8 TableStore capabilities certified by the
# DRIVER's oracle harness rather than pytest alone. Flow through the
# real write paths: overwrite v1 (per-customer aggregates), enable the
# change feed, MERGE an upsert v2 (price bumps on k%7, inserted
# negative keys on k%11), RESTORE to v1 with CDC capture, then SHALLOW
# CLONE the restored table. Output rows carry a src discriminator:
#   'clone'      — the clone's content, which must equal v1 exactly
#                  (restore rolled the content back; clone shares it)
#   'cdc_delete' — the restore's delete-of-current image = v2 exactly
#   'cdc_insert' — the restore's insert-of-target image = v1 exactly
# The oracle derives all three relations straight from orders.
#
# Scale: every step is O(table) metadata + one aggregate-sized write;
# restore and clone are hard-link O(files) with delta-carried stats.
# The result is localCheckpointed before the tmp store is removed
# (same device as snapshot_diff / file_format_roundtrip).
# ---------------------------------------------------------------------------
RESTORE_ROUNDTRIP_ORACLE = """
WITH v1 AS (
  SELECT o_custkey AS k, CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY 1
),
v2 AS (
  SELECT k, n_orders, cents + 1000 AS cents FROM v1 WHERE k % 7 = 0
  UNION ALL
  SELECT k, n_orders, cents FROM v1 WHERE k % 7 <> 0
  UNION ALL
  SELECT k + 10000000 AS k, n_orders, cents FROM v1 WHERE k % 11 = 0
)
SELECT 'clone' AS src, k, n_orders, cents FROM v1
UNION ALL
SELECT 'cdc_delete' AS src, k, n_orders, cents FROM v2
UNION ALL
SELECT 'cdc_insert' AS src, k, n_orders, cents FROM v1
"""


@register("table_restore_roundtrip", RESTORE_ROUNDTRIP_ORACLE)
def table_restore_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ..sources.table_store import TableStore

    v1_df = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)")).alias("cents"),
        )
    )
    source = (
        v1_df.filter(F.col("k") % 7 == 0)
        .select("k", "n_orders", (F.col("cents") + 1000).alias("cents"))
        .unionByName(
            v1_df.filter(F.col("k") % 11 == 0).select(
                (F.col("k") + 10_000_000).alias("k"), "n_orders", "cents"
            )
        )
    )
    tmp = tempfile.mkdtemp(prefix="ddw_restore_")
    try:
        store = TableStore(spark, tmp)
        v1 = store.overwrite("t", v1_df)
        store.enable_cdc("t")
        store.merge("t", source, on=["k"])
        v3 = store.restore("t", v1, capture_cdc=True)
        store.clone("t", "t2")
        cdc = store.read_changes("t", starting_version=v3).select(
            F.concat(F.lit("cdc_"), F.col("_change_type")).alias("src"),
            "k",
            "n_orders",
            "cents",
        )
        out = (
            store.read("t2")
            .select(F.lit("clone").alias("src"), "k", "n_orders", "cents")
            .unionByName(cdc)
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# ---------------------------------------------------------------------------
# Exact set-similarity join with PREFIX FILTERING (round 7): all pairs
# of orders whose PART BASKETS have Jaccard >= 0.5 — near-identical
# purchases without LSH and without all-pairs (Chaudhuri et al. 2006 /
# PPJoin's prefix-filter principle, from public literature). Baskets
# are globally ordered by (part frequency, partkey) — rarest first; a
# basket of n parts keeps only its first n - ceil(tau*n) + 1 as its
# prefix, and ANY pair with J >= tau must collide on at least one
# prefix part (pigeonhole on the shared order), so the equi-join on
# prefix parts has NO false negatives; the exact intersection count
# verifies every candidate with integer cross-multiplication.
#
# This is the SPARSE-similarity regime the prefix join is built for
# (record linkage over mostly-dissimilar sets): measured on the
# documents corpus, whose planted near-dup clusters make >= 0.9-similar
# pairs GENUINELY quadratic in cluster size, any exact pair join is
# Omega(cluster^2) — that workload belongs to the LSH + connected
# components + keep-best family (dedup_* ops), not an exact pair join.
#
# Scale: part frequency is a catalog-sized aggregate; the prefix keeps
# ~(1-tau)|basket| of each order out of the join, rare-first ordering
# keeps surviving join keys low-frequency by construction (hot parts
# are exactly what the prefix drops). Candidate dedup happens BEFORE
# the verify joins; every stage is an equi-join or hash aggregate.
#
# Round-8 addition (VERDICT r7 #3): the PPJoin LENGTH FILTER from the
# same public literature (Xiao et al. 2008) — J(a,b) >= tau forces
# tau * max(|a|,|b|) <= min(|a|,|b|) (the intersection is at most the
# smaller set), so at tau = 1/2 any candidate with n_b > 2*n_a or
# n_a > 2*n_b is provably below threshold. Basket sizes ride the
# prefix relation (one extra int column on the prefix shuffle) and the
# predicate prunes candidates BEFORE the dedup-distinct and the two
# verify joins — exactly the stages that dominate this query's cost.
# No semantics change: every dropped pair already failed the final
# J >= tau verify; the oracle carries the same predicate.
# ---------------------------------------------------------------------------
SSJ_ORACLE = """
WITH tok AS (
  SELECT DISTINCT l_orderkey AS oid, l_partkey AS tok FROM lineitem
),
len AS (SELECT oid, CAST(COUNT(*) AS BIGINT) AS n FROM tok GROUP BY oid),
df AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tok GROUP BY tok),
ranked AS (
  SELECT t.oid, t.tok,
         ROW_NUMBER() OVER (PARTITION BY t.oid ORDER BY d.df, t.tok) AS rn,
         l.n
  FROM tok t JOIN df d USING (tok) JOIN len l USING (oid)
),
prefix AS (
  SELECT oid, tok, n FROM ranked WHERE rn <= n - ((5 * n + 9) // 10) + 1
),
cand AS (
  SELECT DISTINCT a.oid AS order_a, b.oid AS order_b
  FROM prefix a JOIN prefix b ON a.tok = b.tok AND a.oid < b.oid
   AND b.n <= 2 * a.n AND a.n <= 2 * b.n
),
inter AS (
  SELECT c.order_a, c.order_b, CAST(COUNT(*) AS BIGINT) AS n_common
  FROM cand c
  JOIN tok ta ON ta.oid = c.order_a
  JOIN tok tb ON tb.oid = c.order_b AND tb.tok = ta.tok
  GROUP BY c.order_a, c.order_b
)
SELECT i.order_a, i.order_b, i.n_common, la.n AS n_a, lb.n AS n_b,
       ROUND(CAST(i.n_common AS DOUBLE)
             / CAST(la.n + lb.n - i.n_common AS DOUBLE), 6) AS jaccard
FROM inter i
JOIN len la ON la.oid = i.order_a
JOIN len lb ON lb.oid = i.order_b
WHERE 2 * i.n_common >= la.n + lb.n - i.n_common
"""


@register("set_similarity_prefix_join", SSJ_ORACLE)
def set_similarity_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    li = load_table(spark, sf_dir, "lineitem")
    # r12 rewrite (guide §2.3 "shuffle keys and metadata instead of
    # payloads", measured first): baskets are TINY sorted part arrays
    # (lineitem orders hold <= 7 distinct parts), so one groupBy(oid)
    # materializes every order's whole basket once, and the VERIFY stage
    # becomes two candidate-bounded hash joins against the basket table
    # plus an exact array_intersect — instead of re-exploding the full
    # (order, part) relation through two corpus-sized shuffle joins and
    # a (order_a, order_b) count aggregate, plus two more joins against
    # the basket-size relation (the old shape: verify alone measured
    # ~1.9 s of the 4.4 s total at sf0.1). Same integers everywhere:
    # n = size(basket), n_common = size(array_intersect) over distinct
    # parts — identical to the COUNT(*) equi-join the oracle runs.
    baskets = (
        li.select(F.col("l_orderkey").alias("oid"), F.col("l_partkey").alias("tok"))
        .groupBy("oid")
        .agg(F.array_sort(F.collect_set("tok")).alias("toks"))
        .withColumn("n", F.size("toks").cast("long"))
        # one materialization feeds the df aggregate, the prefix explode,
        # and both verify sides (four consumers, basket-scale rows)
        .localCheckpoint(eager=False)
    )
    tok = baskets.select("oid", "n", F.explode("toks").alias("tok"))
    dfreq = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    ranked = tok.join(dfreq, "tok").withColumn(
        "rn", F.row_number().over(W.partitionBy("oid").orderBy("df", "tok"))
    )
    prefix = ranked.filter(
        F.col("rn") <= F.col("n") - F.expr("(5 * n + 9) div 10") + 1
    ).select("oid", "tok", "n")
    a = prefix.select(F.col("oid").alias("order_a"), "tok", F.col("n").alias("na"))
    b = prefix.select(F.col("oid").alias("order_b"), "tok", F.col("n").alias("nb"))
    # PPJoin length filter: tau=1/2 in exact integers — a candidate can
    # only reach J >= 1/2 if neither basket is more than twice the
    # other; pruned BEFORE the distinct and the verify joins
    cand = (
        a.join(b, "tok")
        .filter(
            (F.col("order_a") < F.col("order_b"))
            & (F.col("nb") <= 2 * F.col("na"))
            & (F.col("na") <= 2 * F.col("nb"))
        )
        .select("order_a", "order_b")
        .distinct()
    )
    ba = baskets.select(
        F.col("oid").alias("order_a"), F.col("toks").alias("__ta"), F.col("n").alias("n_a")
    )
    bb = baskets.select(
        F.col("oid").alias("order_b"), F.col("toks").alias("__tb"), F.col("n").alias("n_b")
    )
    return (
        cand.join(ba, "order_a")
        .join(bb, "order_b")
        .withColumn(
            "n_common", F.size(F.array_intersect("__ta", "__tb")).cast("long")
        )
        .filter(2 * F.col("n_common") >= F.col("n_a") + F.col("n_b") - F.col("n_common"))
        .select(
            "order_a",
            "order_b",
            "n_common",
            "n_a",
            "n_b",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# Winnowing document fingerprints (round 8): the MOSS fingerprinting
# scheme (Schleimer, Wilkerson, Aiken 2003) — normalize, hash every
# character k-gram, keep the MINIMUM hash of each sliding window of w
# consecutive k-grams (rightmost on ties), then join documents on
# shared fingerprints. The guarantee the paper proves: any shared
# substring of length >= w + k - 1 yields at least one shared
# fingerprint (no false negatives above the threshold), while storage
# is ~2/(w+1) of the k-gram count — the local-substring dedup family
# member next to MinHash (whole-doc Jaccard) and SimHash (global
# near-dup): winnowing catches PARTIAL overlap (quotes, boilerplate
# spans, plagiarized passages) that whole-document sketches dilute.
#
# Exactness/portability: the k-gram hash is a plain polynomial over
# codepoints mod 256 in BIGINT (Σ (cp % 256)·B^j, B = 131, k = 8 →
# max ~1.7e17, no overflow), reduced mod 2^40; the rightmost-min
# selection packs (hash, position) into ONE BIGINT (h·2^20 + (2^20-1-p),
# positions capped at 2^20 chars) so a single MIN over the window frame
# implements the paper's tie rule — identical integers on both engines.
#
# Scale: position explode is Σ n_chars rows (linear); the window min is
# partitioned by doc (bounded by document length, never a global sort).
# The fingerprint relation is exchanged exactly ONCE (VERDICT r8 #3
# measured the old distinct + df-window + self-join formulation
# spilling three full-relation exchanges, ~2.1x over linear at 100x):
# one groupBy(h).collect_set(doc_id) — map-side partials do the
# (doc_id, h) dedup for free because spread() co-located each doc's
# positions — then the df cap filters the sets, per-doc sizes come
# from the exploded POST-CAP relation, and candidate pairs are
# generated ARRAY-SIDE by a flatten/transform HOF over each <= df_cap
# sorted set (no self-join, no second exchange of the fingerprints).
# A fingerprint's pair fan-out is df² — ONE boilerplate print shared
# by 44% of the 10x corpus produced 2.5B join rows (measured) — so
# prints with document frequency > WINNOW_MAX_DF are DROPPED before
# pair generation, the way MOSS ignores matches above an occurrence
# threshold (a print in hundreds of documents is boilerplate, not
# evidence of pairwise copying). The cap bounds pair fan-out at
# df_cap²/2 rows per fingerprint — linear in the fingerprint count at
# any corpus size. Top-20 pairs via integer counts, id tiebreaks.
# The ORACLE deliberately keeps the original distinct + COUNT-window +
# self-join algebra: same answer through a different formulation is a
# stronger check than a mirrored rewrite.
# ---------------------------------------------------------------------------
WINNOW_K = 8  # k-gram length (chars, normalized)
WINNOW_W = 4  # window of consecutive k-grams per fingerprint
WINNOW_MAX_DF = 50  # drop boilerplate fingerprints above this doc frequency
_WIN_B = 131
_POS_BITS = 1 << 20
_H40 = 1 << 40

_WIN_HASH_TERMS = " + ".join(
    f"(ascii(substr(clean, p + {j}, 1)) % 256) * CAST({_WIN_B ** j} AS BIGINT)"
    for j in range(WINNOW_K)
)

WINNOW_ORACLE = f"""
WITH cleaned AS (
  SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS clean
  FROM documents
), pos AS (
  SELECT doc_id, clean, CAST(p AS BIGINT) AS p
  FROM cleaned,
       UNNEST(generate_series(1, LEAST(length(clean) - {WINNOW_K} + 1, {_POS_BITS} - 1))) AS t(p)
  WHERE length(clean) >= {WINNOW_K + WINNOW_W - 1}
), hashed AS (
  SELECT doc_id, p,
         (({_WIN_HASH_TERMS}) % {_H40}) * {_POS_BITS} + ({_POS_BITS} - 1 - p) AS packed
  FROM pos
), mins AS (
  SELECT doc_id,
         MIN(packed) OVER (PARTITION BY doc_id ORDER BY p
                           ROWS BETWEEN {WINNOW_W - 1} PRECEDING AND CURRENT ROW) AS sel,
         p
  FROM hashed
), fp_all AS (
  SELECT DISTINCT doc_id, sel // {_POS_BITS} AS h
  FROM mins WHERE p >= {WINNOW_W}
), fp AS (
  SELECT doc_id, h FROM (
    SELECT doc_id, h, COUNT(*) OVER (PARTITION BY h) AS df FROM fp_all
  ) WHERE df <= {WINNOW_MAX_DF}
), sizes AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fp FROM fp GROUP BY doc_id
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(COUNT(*) AS BIGINT) AS shared_fingerprints
  FROM fp a JOIN fp b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, shared_fingerprints,
       CAST(shared_fingerprints * 10000
            // LEAST(sa.n_fp, sb.n_fp) AS BIGINT) AS containment_bp
FROM pairs
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
ORDER BY shared_fingerprints DESC, doc_a, doc_b
LIMIT 20
"""


@register("winnow_fingerprint_pairs", WINNOW_ORACLE)
def winnow_fingerprint_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup_text import spread

    docs = load_table(spark, sf_dir, "documents")
    # spread to full parallelism BEFORE the k-gram hash projection: the
    # corpus parquet is bytes-small relative to the per-char work (8
    # substr+ascii per position), so the scan yields 1-2 input splits
    # and the 10x corpus ran the whole 400M-op pipeline in one task
    # (measured 21.8x at 10x data; the exchange of the ~n_chars bytes
    # is trivial next to the compute it parallelizes)
    cleaned = spread(
        docs.select(
            "doc_id",
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]", "").alias("clean"),
        ).filter(F.length("clean") >= WINNOW_K + WINNOW_W - 1),
        "doc_id",
    )
    pos = cleaned.select(
        "doc_id",
        "clean",
        F.explode(
            F.sequence(
                F.lit(1).cast("bigint"),
                F.least(
                    F.length("clean") - (WINNOW_K - 1), F.lit(_POS_BITS - 1)
                ).cast("bigint"),
            )
        ).alias("p"),
    )
    hashed = pos.select(
        "doc_id",
        "p",
        F.expr(
            f"(({_WIN_HASH_TERMS}) % {_H40}) * {_POS_BITS} + ({_POS_BITS} - 1 - p)"
        ).alias("packed"),
    )
    w = (
        W.partitionBy("doc_id")
        .orderBy("p")
        .rowsBetween(-(WINNOW_W - 1), W.currentRow)
    )
    mins = hashed.select(
        "doc_id", "p", F.min("packed").over(w).alias("sel")
    ).filter(F.col("p") >= WINNOW_W)
    # integer div — sel reaches ~1.15e18, past double's 2^53 exactness.
    # ONE exchange for the whole fingerprint relation: collect_set's
    # map-side partials dedup (doc_id, h) before the shuffle (a doc's
    # positions are co-located by the spread), the set size IS the
    # document frequency for the boilerplate cap, and the surviving
    # sorted sets feed both the per-doc sizes and the array-side pair
    # expansion below.
    fp_g = (
        mins.select("doc_id", F.expr(f"sel div {_POS_BITS}").alias("h"))
        .groupBy("h")
        .agg(F.array_sort(F.collect_set("doc_id")).alias("docs"))
        .filter(F.size("docs") <= WINNOW_MAX_DF)
    )
    sizes = (
        fp_g.select(F.explode("docs").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_fp"))
    )
    # all i<j pairs of each sorted set, generated where the set already
    # lives (flatten/transform HOF) — no fingerprint self-join
    pairs = (
        fp_g.select(
            F.explode(
                F.expr(
                    "flatten(transform(docs, (x, i) -> "
                    "transform(slice(docs, i + 2, size(docs)), "
                    "y -> named_struct('doc_a', x, 'doc_b', y))))"
                )
            ).alias("pr")
        )
        .select("pr.doc_a", "pr.doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("shared_fingerprints"))
    )
    # containment against the SMALLER fingerprint set — the quantity
    # that flags a short doc fully contained in a long one (exact
    # integer basis points, floor div on nonnegative counts)
    return (
        pairs.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_fp").alias("na")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_fp").alias("nb")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "shared_fingerprints",
            F.expr(
                "CAST(shared_fingerprints * 10000 div least(na, nb) AS BIGINT)"
            ).alias("containment_bp"),
        )
        .orderBy(F.col("shared_fingerprints").desc(), "doc_a", "doc_b")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# ANN recall certification (round 9): measured recall@10 of the IVF
# probe regime against exact brute force, per query, over a 20-query
# panel — the acceptance test every approximate index needs before it
# serves at corpus scale, run THROUGH the driver's oracle harness so
# the certification itself is certified. similarity_ivf_topk pins the
# IVF answer for one query; this pins the QUALITY CONTRACT of the whole
# regime (16 centroids, 4 probes) as data: per-query hit counts and
# basis-point recall, bit-identical on both engines because both
# rankings use the quantized-integer cosine + id tiebreak.
#
# Scale: one scored relation (corpus x broadcast query panel — the
# panel stays O(100) rows at any corpus size) feeds both rankings; the
# IVF side reuses those cosines filtered to probed cells, so the
# comparison adds NO second corpus pass. Rankings are windows
# partitioned by query id; the recall join handles k * n_queries rows.
# At 100 TB the same harness runs on a sampled panel against the
# precomputed cell assignment — identical plan shape.
# ---------------------------------------------------------------------------
RECALL_QUERIES, RECALL_K = 20, 10

_RECALL_QUANT = SQL_QUANT.format(v="embedding")

ANN_RECALL_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS qid, {_RECALL_QUANT} AS qv
  FROM embeddings WHERE vec_id < {RECALL_QUERIES}
), cent AS (
  SELECT vec_id AS cid, {_RECALL_QUANT} AS cvec
  FROM embeddings WHERE vec_id < {IVF_CENTROIDS}
), v AS (
  SELECT vec_id, {_RECALL_QUANT} AS vv FROM embeddings
), cscored AS (
  SELECT v.vec_id, cent.cid,
         {_sql_cosine_preq('v.vv', 'cent.cvec')} AS ccos
  FROM v CROSS JOIN cent
), assigned AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY ccos DESC, cid) AS rn
    FROM cscored) WHERE rn = 1
), probes AS (
  SELECT vec_id AS qid, cid FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY ccos DESC, cid) AS rn
    FROM cscored WHERE vec_id < {RECALL_QUERIES})
  WHERE rn <= {IVF_PROBE}
), scored AS (
  SELECT q.qid, v.vec_id, {_sql_cosine_preq('v.vv', 'q.qv')} AS cosine
  FROM v CROSS JOIN q WHERE v.vec_id != q.qid
), exact AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           ROW_NUMBER() OVER (PARTITION BY qid
                              ORDER BY cosine DESC, vec_id) AS rn
    FROM scored) WHERE rn <= {RECALL_K}
), ivf AS (
  SELECT qid, vec_id FROM (
    SELECT s.qid, s.vec_id,
           ROW_NUMBER() OVER (PARTITION BY s.qid
                              ORDER BY s.cosine DESC, s.vec_id) AS rn
    FROM scored s
    JOIN assigned a ON s.vec_id = a.vec_id
    JOIN probes p ON p.qid = s.qid AND p.cid = a.cid)
  WHERE rn <= {RECALL_K}
)
SELECT e.qid AS query_id,
       CAST(COUNT(*) AS BIGINT) AS exact_k,
       CAST(COUNT(i.vec_id) AS BIGINT) AS ivf_hits,
       COUNT(i.vec_id) * 10000 // COUNT(*) AS recall_bp
FROM exact e
LEFT JOIN ivf i ON e.qid = i.qid AND e.vec_id = i.vec_id
GROUP BY e.qid
ORDER BY query_id
"""


@register("ann_recall_at_k", ANN_RECALL_ORACLE)
def ann_recall_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@10 of similarity_ivf_topk's probe regime vs
    exact brute force (operators/similarity.py:ann_recall_at_k)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return ann_recall_at_k(
        emb,
        n_queries=RECALL_QUERIES,
        k=RECALL_K,
        n_centroids=IVF_CENTROIDS,
        n_probe=IVF_PROBE,
    )


# ---------------------------------------------------------------------------
# Int8 scalar quantization of the embedding column (round 9): the
# standard vector-DB ingestion step — per-vector max-abs scale, codes
# in [-127, 127], 4x memory cut and integer-dot search — reported as
# per-label reconstruction-error statistics so the quality cost of the
# compression is certified data, the way ann_recall_at_k certifies the
# IVF index.
#
# Exactness: works on the fixed-point integer view (round(x*10000),
# the repo-wide quantized() form), so scale, codes, and error
# numerators are ALL exact BIGINT arithmetic on both engines —
# code = sign(q) * floor((|q|*254 + scale) / (2*scale)) is
# round-half-up on the magnitude (max |code| provably 127), error
# numerator |q*127 - code*scale| is exact, and the per-vector relative
# error in ppm is an integer division. No doubles anywhere. (The
# double-division floor on the Spark side is exact: operands stay
# under 2^53.)
#
# Scale: pure per-row higher-order expressions (transform/zip_with/
# aggregate — JVM-side, no shuffle) followed by one ~|labels|-row hash
# aggregate. Linear, embarrassingly parallel; at 100 TB the codes
# column is written once at ingest and every downstream ANN pass reads
# a quarter of the bytes.
# ---------------------------------------------------------------------------
_QUANT8_Q = SQL_QUANT.format(v="embedding")

QUANT8_ORACLE = f"""
WITH q AS (
  SELECT vec_id, label, {_QUANT8_Q} AS qv FROM embeddings
), scaled AS (
  SELECT vec_id, label, qv,
         list_max(list_transform(qv, x -> abs(x))) AS scale
  FROM q
), coded AS (
  SELECT vec_id, label, qv, scale,
         list_transform(qv, x -> CASE WHEN scale = 0 THEN 0
           WHEN x >= 0 THEN (x * 254 + scale) // (2 * scale)
           ELSE -((-x * 254 + scale) // (2 * scale)) END) AS codes
  FROM scaled
), err AS (
  SELECT vec_id, label,
         list_sum(list_transform(range(1, 65),
           i -> abs(qv[i] * 127 - codes[i] * scale))) AS err_num,
         list_sum(list_transform(qv, x -> abs(x))) AS sum_abs,
         list_max(list_transform(codes, c -> abs(c))) AS max_abs_code
  FROM coded
)
SELECT label,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(SUM(CASE WHEN sum_abs = 0 THEN 0
                ELSE err_num * 1000000 // (127 * sum_abs) END)
            // COUNT(*) AS BIGINT) AS avg_rel_err_ppm,
       CAST(MAX(max_abs_code) AS BIGINT) AS max_abs_code
FROM err
GROUP BY label
ORDER BY label
"""


@register("embedding_quantize_int8", QUANT8_ORACLE)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import quantized

    emb = load_table(spark, sf_dir, "embeddings")
    qv = quantized(F.col("embedding"))
    scaled = emb.select(
        "label",
        qv.alias("qv"),
        F.array_max(F.transform(qv, lambda x: F.abs(x))).alias("scale"),
    )
    scale = F.col("scale")
    codes = F.transform(
        F.col("qv"),
        lambda x: F.when(scale == 0, F.lit(0).cast("long")).otherwise(
            F.when(
                x >= 0,
                F.floor((x * 254 + scale) / (2 * scale)).cast("long"),
            ).otherwise(
                -F.floor((-x * 254 + scale) / (2 * scale)).cast("long")
            )
        ),
    )
    coded = scaled.select("label", "qv", "scale", codes.alias("codes"))
    zero = F.lit(0).cast("long")
    err = coded.select(
        "label",
        F.aggregate(
            F.zip_with(
                F.col("qv"),
                F.col("codes"),
                lambda q, c: F.abs(q * 127 - c * F.col("scale")),
            ),
            zero,
            lambda acc, v: acc + v,
        ).alias("err_num"),
        F.aggregate(
            F.transform(F.col("qv"), lambda x: F.abs(x)),
            zero,
            lambda acc, v: acc + v,
        ).alias("sum_abs"),
        F.array_max(
            F.transform(F.col("codes"), lambda c: F.abs(c))
        ).alias("max_abs_code"),
    )
    return (
        err.groupBy("label")
        .agg(
            F.count("*").cast("long").alias("n_vecs"),
            F.expr(
                "CAST(SUM(CASE WHEN sum_abs = 0 THEN 0"
                " ELSE err_num * 1000000 DIV (127 * sum_abs) END)"
                " DIV COUNT(*) AS BIGINT)"
            ).alias("avg_rel_err_ppm"),
            F.max("max_abs_code").cast("long").alias("max_abs_code"),
        )
        .select("label", "n_vecs", "avg_rel_err_ppm", "max_abs_code")
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# Hard-negative mining (round 9): for each query vector, the top-k
# most-similar vectors with a DIFFERENT label — the standard negative-
# sampling step for contrastive / retrieval training (the hardest
# negatives are the near neighbors the model must learn to push away;
# random negatives are too easy to carry gradient). Uses the embeddings
# table's label column as the supervision signal; same 20-query panel
# and quantized-integer cosine as ann_recall_at_k.
#
# Scale: the scored relation is corpus x broadcast panel (panel is
# O(100) rows at any corpus size — linear); the label filter is a
# per-row predicate pushed into the scan side of the score projection;
# ranking is a window partitioned by query id. At 100 TB the panel
# batches queries against the same single corpus pass a per-query
# TakeOrdered would repeat 20 times.
# ---------------------------------------------------------------------------
HARDNEG_QUERIES, HARDNEG_K = 20, 5

HARDNEG_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS qid, label AS qlabel, {_RECALL_QUANT} AS qv
  FROM embeddings WHERE vec_id < {HARDNEG_QUERIES}
), v AS (
  SELECT vec_id, label, {_RECALL_QUANT} AS vv FROM embeddings
), scored AS (
  SELECT q.qid, v.vec_id, v.label,
         {_sql_cosine_preq('v.vv', 'q.qv')} AS cosine
  FROM v CROSS JOIN q
  WHERE v.vec_id != q.qid AND v.label != q.qlabel
)
SELECT qid AS query_id, vec_id AS neg_id, CAST(label AS BIGINT) AS neg_label,
       cosine
FROM (
  SELECT qid, vec_id, label, cosine,
         ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY cosine DESC, vec_id) AS rn
  FROM scored)
WHERE rn <= {HARDNEG_K}
ORDER BY query_id, cosine DESC, neg_id
"""


@register("hard_negative_mining", HARDNEG_ORACLE)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import cosine_q_pre, dot_q, quantized

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < HARDNEG_QUERIES).select(
        F.col("vec_id").alias("__qid"),
        F.col("label").alias("__qlabel"),
        quantized(F.col("embedding")).alias("__qv"),
    ).withColumn("__qn2", dot_q(F.col("__qv"), F.col("__qv")))
    v = emb.select(
        "vec_id", "label", quantized(F.col("embedding")).alias("__v")
    ).withColumn("__vn2", dot_q(F.col("__v"), F.col("__v")))
    scored = (
        v.crossJoin(F.broadcast(q))
        .filter(
            (F.col("vec_id") != F.col("__qid"))
            & (F.col("label") != F.col("__qlabel"))
        )
        .select(
            "__qid",
            "vec_id",
            "label",
            F.round(
                cosine_q_pre(
                    F.col("__v"), F.col("__vn2"), F.col("__qv"), F.col("__qn2")
                ),
                6,
            ).alias("cosine"),
        )
    )
    ranked = scored.withColumn(
        "__rn",
        F.row_number().over(
            W.partitionBy("__qid").orderBy(
                F.col("cosine").desc(), F.col("vec_id")
            )
        ),
    ).filter(F.col("__rn") <= HARDNEG_K)
    return ranked.select(
        F.col("__qid").alias("query_id"),
        F.col("vec_id").alias("neg_id"),
        F.col("label").cast("long").alias("neg_label"),
        "cosine",
    ).orderBy("query_id", F.col("cosine").desc(), "neg_id")


# ---------------------------------------------------------------------------
# LSH recall certification (round 9): the measured quality contract of
# the MinHash-LSH dedup path — for every TRUE near-duplicate pair
# (exact Jaccard >= 1/2 over 3-word shingles, the same corpus + near-
# copy fixture dedup_minhash_lsh runs on), did the banded 4x2 LSH
# candidate generation surface it? Recall is reported per similarity
# bucket (>=0.9 / 0.7-0.9 / 0.5-0.7) — the empirical S-curve that
# decides band/row settings, certified through the driver's oracle the
# same way ann_recall_at_k certifies the IVF index. The ground truth is
# computed EXACTLY (prefix-filtered set-similarity join, the PPJoin
# machinery — never all-pairs on the Spark side), while the DuckDB
# oracle derives it by brute-force all-pairs intersection: the query is
# therefore simultaneously an oracle-checked cross-formulation test of
# the prefix join's exactness at every driver run.
#
# Scale: one shingle evaluation feeds both branches (doc-level
# localCheckpoint, the dedup-family pattern); the truth side is the
# certified prefix-pigeonhole + tau-length-filter pipeline (linear-
# class, 78x solo at 100x for the lineitem twin); the LSH side is the
# certified banded equi-join; the final comparison is one candidate-
# bounded left join + a 3-row aggregate. Integer cross-multiplication
# for every threshold — no doubles anywhere.
# ---------------------------------------------------------------------------
# Certification fixture: three mutation tiers per original — drop the
# last word (J ~ 0.97, the dedup fixture's own near-copy), keep the
# first 80% of words (J ~ 0.8), keep the first 60% (J ~ 0.6) — so the
# truth set spans all three report buckets and the banded LSH's
# theoretical S-curve (catch prob 1-(1-J^2)^4) is actually visible:
# ~1.0 at J>=0.9, ~0.98 at 0.8, ~0.83 at 0.6. A fixture of only
# high-J pairs certifies nothing (recall == 10000 everywhere was the
# first draft's vacuous result).
# The certification corpus is a deterministic 1-in-CERT_SAMPLE_MOD
# sample of the documents (doc_id % 4 == 0) plus the three mutation
# tiers of each sampled doc. Sampling is the operator's SCALE KNOB,
# not a shortcut: banded-LSH recall for a true pair depends only on
# the pair's own Jaccard (catch prob 1-(1-J^r)^b over its OWN band
# signatures — corpus size never enters), so a sampled certification
# measures exactly the same S-curve while the exact truth side — the
# one inherently pair-quadratic-leaning computation in the registry —
# runs on a quarter of the shingle volume. At production scale the
# sample rate is what holds certification cost constant as the corpus
# grows (certify bands on a fixed-size sample, apply them to the full
# corpus).
CERT_SAMPLE_MOD = 4

# 40-bit polynomial shingle fingerprints for the exact truth side
# (VERDICT r9 #2 / What's-wrong #3): the truth computation previously
# shuffled raw 3-word shingle STRINGS (~25-40 bytes each) through the
# document-frequency aggregate, the prefix join, and the intersection
# join — the one plan in the registry whose 100x frontier run exceeded
# this host's spill disk even under the 1-in-4 sample. Hashing each
# shingle to h = fold((acc*131 + cp%256) mod 2^40) — the SAME
# polynomial/modulus discipline winnow_fingerprint_pairs documents —
# cuts every truth-side shuffle payload to one BIGINT. Collision bound:
# the sampled sf0.01 cert corpus carries ~2e5 distinct shingles, so
# expected colliding pairs ~ (2e5)^2 / 2^41 ~ 0.02 << 1 (birthday
# bound); even at the 100x frontier (~2e7 shingles) expected collisions
# ~ 180 out of 4e14 pairs — a per-pair Jaccard perturbation far below
# the 10000-bp report resolution. The ORACLE applies the identical
# fold, so the two engines agree BIT-FOR-BIT regardless of collisions;
# the recall integers at sf0.01 are unchanged vs the string form
# (verified at the swap).
_CERT_FP_MOD = 1 << 40
_CERT_FP_SPARK = (
    "aggregate(transform(sequence(1, length({s})), "
    "i -> CAST(ascii(substr({s}, i, 1)) % 256 AS BIGINT)), "
    f"CAST(0 AS BIGINT), (acc, c) -> (acc * 131 + c) % {_CERT_FP_MOD})"
)
_CERT_FP_SQL = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(range(1, length({s}) + 1), "
    "i -> CAST(ascii(substr({s}, i, 1)) % 256 AS BIGINT))), "
    f"(acc, c) -> (acc * 131 + c) % {_CERT_FP_MOD})"
)

SQL_TIERED_COPIES = rf"""
  SELECT doc_id, text FROM documents WHERE doc_id % {CERT_SAMPLE_MOD} = 0
  UNION ALL
  SELECT doc_id + {ID_OFFSET} AS doc_id,
         array_to_string(words[1:len(words)-1], ' ') AS text
  FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS words
        FROM documents WHERE doc_id % {CERT_SAMPLE_MOD} = 0)
  UNION ALL
  SELECT doc_id + {2 * ID_OFFSET} AS doc_id,
         array_to_string(words[1:GREATEST(8 * len(words) // 10, 3)], ' ') AS text
  FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS words
        FROM documents WHERE doc_id % {CERT_SAMPLE_MOD} = 0)
  UNION ALL
  SELECT doc_id + {3 * ID_OFFSET} AS doc_id,
         array_to_string(words[1:GREATEST(6 * len(words) // 10, 3)], ' ') AS text
  FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS words
        FROM documents WHERE doc_id % {CERT_SAMPLE_MOD} = 0)
"""


def _with_tiered_copies(docs: DataFrame) -> DataFrame:
    """Originals + the three mutation tiers of SQL_TIERED_COPIES."""
    w = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    base = docs.select("doc_id", "text", w.alias("__w"))
    out = docs.select("doc_id", "text")
    for mult, keep_expr in (
        (1, "size(__w) - 1"),
        (2, "GREATEST(8 * size(__w) DIV 10, 3)"),
        (3, "GREATEST(6 * size(__w) DIV 10, 3)"),
    ):
        out = out.unionAll(
            base.select(
                (F.col("doc_id") + mult * ID_OFFSET).alias("doc_id"),
                F.array_join(
                    F.slice(F.col("__w"), 1, F.expr(keep_expr)), " "
                ).alias("text"),
            )
        )
    return out


LSH_RECALL_ORACLE = f"""
WITH all_docs AS ({SQL_TIERED_COPIES}),
sh AS ({SQL_SHINGLES}),
fps AS (
  SELECT doc_id,
         list_distinct(list_transform(shingles,
           s -> {_CERT_FP_SQL.format(s='s')})) AS fp
  FROM sh
),
truth AS (
  SELECT id_a, id_b, n_common, n_a + n_b - n_common AS n_union
  FROM (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_intersect(a.fp, b.fp)) AS BIGINT) AS n_common,
           CAST(len(a.fp) AS BIGINT) AS n_a,
           CAST(len(b.fp) AS BIGINT) AS n_b
    FROM fps a JOIN fps b ON a.doc_id < b.doc_id
  )
  WHERE 2 * n_common >= n_a + n_b - n_common
),
sigs AS ({" UNION ALL ".join(_sql_band_bucket(b) for b in range(BANDS))}),
lsh AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sigs a JOIN sigs b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
)
SELECT CASE WHEN 10 * n_common >= 9 * n_union THEN 'hi_ge90'
            WHEN 10 * n_common >= 7 * n_union THEN 'mid_70_90'
            ELSE 'lo_50_70' END AS sim_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_truth,
       CAST(SUM(CASE WHEN lsh.id_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_caught,
       CAST(CAST(SUM(CASE WHEN lsh.id_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
            * 10000 // CAST(COUNT(*) AS BIGINT) AS BIGINT) AS recall_bp
FROM truth LEFT JOIN lsh USING (id_a, id_b)
GROUP BY 1 ORDER BY 1
"""


@register("lsh_recall_certification", LSH_RECALL_ORACLE)
def lsh_recall_certification(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ..operators.dedup_text import lsh_candidate_pairs, minhash_from_shingles

    docs = _with_tiered_copies(
        load_table(spark, sf_dir, "documents").filter(
            F.col("doc_id") % CERT_SAMPLE_MOD == 0
        )
    )
    sets = shingle_sets(docs, "doc_id", "text", k=3).localCheckpoint(eager=False)
    # truth side runs entirely on 40-bit shingle fingerprints (8-byte
    # BIGINTs in every shuffle instead of 25-40 byte strings — see
    # _CERT_FP_SPARK header). r12: the per-doc fp SET is materialized
    # once as a sorted array (doc-count-scale rows — unlike the exploded
    # tok checkpoint r11 measured and rejected) and the verify stage
    # joins candidates against those arrays (size/array_intersect), the
    # certified set_similarity_prefix_join shape: the two corpus-fp-scale
    # verify joins + pair-count aggregate are gone, and n = size(fps)
    # replaces the unordered count window. Same-session A/B: 1.86 ->
    # 1.71 s at sf0.1, 5.62 -> 3.95 s (1.42x) at 6x docs; identical
    # output (sorted-collect equality + oracle).
    fps = (
        sets.select(
            "doc_id",
            F.expr(
                "array_sort(array_distinct(transform(__sh, s -> "
                + _CERT_FP_SPARK.format(s="s")
                + ")))"
            ).alias("fps"),
        )
        .withColumn("n", F.size("fps").cast("long"))
        .localCheckpoint(eager=False)
    )
    tok = fps.select("doc_id", "n", F.explode("fps").alias("tok"))
    dfreq = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    ranked = tok.join(dfreq, "tok").withColumn(
        "rn", F.row_number().over(W.partitionBy("doc_id").orderBy("df", "tok"))
    )
    prefix = ranked.filter(
        F.col("rn") <= F.col("n") - F.expr("(5 * n + 9) div 10") + 1
    ).select("doc_id", "tok", "n")
    a = prefix.select(F.col("doc_id").alias("id_a"), "tok", F.col("n").alias("na"))
    b = prefix.select(F.col("doc_id").alias("id_b"), "tok", F.col("n").alias("nb"))
    # na/nb (the fp-set sizes the prefix rows already carry) ride along
    # through the candidate set — the old separate `sizes` relation and
    # its two join-backs are gone (two fewer joins, same integers)
    cand = (
        a.join(b, "tok")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("nb") <= 2 * F.col("na"))
            & (F.col("na") <= 2 * F.col("nb"))
        )
        .select("id_a", "id_b", F.col("na").alias("n_a"), F.col("nb").alias("n_b"))
        .distinct()
    )
    fa = fps.select(F.col("doc_id").alias("id_a"), F.col("fps").alias("__fa"))
    fb = fps.select(F.col("doc_id").alias("id_b"), F.col("fps").alias("__fb"))
    truth = (
        cand.join(fa, "id_a")
        .join(fb, "id_b")
        .withColumn(
            "n_common", F.size(F.array_intersect("__fa", "__fb")).cast("long")
        )
        .drop("__fa", "__fb")
        .withColumn("n_union", F.col("n_a") + F.col("n_b") - F.col("n_common"))
        .filter(2 * F.col("n_common") >= F.col("n_union"))
    )
    lsh = lsh_candidate_pairs(
        minhash_from_shingles(_set_rows(sets), "doc_id", bands=BANDS,
                              rows_per_band=ROWS_PER_BAND),
        "doc_id",
    ).select("id_a", "id_b", F.lit(1).alias("caught"))
    bucket = (
        F.when(10 * F.col("n_common") >= 9 * F.col("n_union"), "hi_ge90")
        .when(10 * F.col("n_common") >= 7 * F.col("n_union"), "mid_70_90")
        .otherwise("lo_50_70")
    )
    return (
        truth.join(lsh, ["id_a", "id_b"], "left")
        .groupBy(bucket.alias("sim_bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_truth"),
            F.sum(F.coalesce(F.col("caught"), F.lit(0))).cast("long")
            .alias("n_caught"),
        )
        .select(
            "sim_bucket",
            "n_truth",
            "n_caught",
            F.expr("n_caught * 10000 DIV n_truth").alias("recall_bp"),
        )
        .orderBy("sim_bucket")
    )


# ---------------------------------------------------------------------------
# Image/video near-dup recall certification (round 11, VERDICT r10 #6):
# the measured quality contracts of the two multimodal dedup operators,
# the lsh_recall_certification pattern applied to the other modalities.
# Text LSH certifies "did banding surface each TRUE pair"; banded dHash
# and frame voting are EXACT generate-and-verify schemes (the pigeonhole
# never drops a within-budget pair), so their quality question is
# upstream: how ROBUST is the fingerprint itself to deterministic
# mutation tiers — the S-curve from mutation severity to catch rate
# that decides the Hamming budget / containment threshold in
# production. Each certification plants three tiers per sampled asset
# and reports catch rate per tier through the full registered pair
# pipeline (banding/df-cap/verify all on the certified path); the
# oracle recomputes fingerprints + catch per planted pair directly —
# a cross-formulation exactness check of the pair machinery at every
# driver run, like the LSH certification's truth side.
#
# Image tiers (bytes; grid = first 72 payload bytes, so docs are
# filtered to n_chars >= 72 to keep tiling out of tier semantics):
#   t1 one byte  -> <= 2 dHash bits move -> must be caught (~10000 bp)
#   t2 four bytes, four different grid rows -> E[moved bits] ~ 4 =
#      exactly the Hamming budget -> the visible middle of the curve
#   t3 first 72 bytes reversed -> whole grid scrambled -> ~0 bp
# Video tiers (reverse the CENTRAL pct% of the payload — doc-specific
# corruption, so no cross-asset boilerplate frame is created and the
# df cap stays untouched; a corrupted slice fingerprints differently,
# an untouched slice identically):
#   t1 10% -> ~90% frames shared -> caught (threshold 6000 bp)
#   t2 36% -> ~60% shared -> straddles the threshold (measured
#      5000 bp at sf0.01; the 30->38% sweep spans 9772->2727 bp)
#   t3 75% -> ~25% shared -> not caught
# Scale: certification corpora are 1-in-CERT_SAMPLE_MOD samples (the
# LSH certification's scale knob — fingerprint robustness per pair is
# corpus-size-independent, so a fixed-size sample certifies the same
# curve at any corpus scale); pair generation is the registered
# banded / single-exchange machinery, never all-pairs on the Spark
# side. The oracle joins orig->mutant per tier (planted pairs only —
# even the oracle is linear here, unlike the near-dup oracles).
# ---------------------------------------------------------------------------
def _img_mutation_expr(tier: int) -> str:
    """1-based-substr mutation expression for tier (identical text in
    Spark SQL and DuckDB — both engines parse this exact string)."""
    if tier == 1:
        return "'Q' || substr(text, 2)"
    if tier == 2:
        return (
            "'Q' || substr(text, 2, 18) || 'R' || substr(text, 21, 18) || "
            "'S' || substr(text, 40, 18) || 'T' || substr(text, 59)"
        )
    return "reverse(substr(text, 1, 72)) || substr(text, 73)"


def _img_cert_oracle() -> str:
    W, H, NB = _PHASH_GRID_W, _PHASH_GRID_H, _PHASH_BITS
    B = PHASH_MAX_HAMMING
    tiers = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {t} AS tier, {_img_mutation_expr(t)} AS text FROM base"
        for t in (1, 2, 3)
    )
    return f"""
WITH base AS (
  SELECT doc_id, text FROM documents
  WHERE doc_id % {CERT_SAMPLE_MOD} = 0 AND n_chars >= 72
),
muts AS (
{tiers}
),
corpus AS (
  SELECT doc_id, 0 AS tier, text FROM base
  UNION ALL
  SELECT doc_id + tier * {ID_OFFSET} AS doc_id, tier, text FROM muts
),
grids AS (
  SELECT doc_id, tier,
         list_transform(range({W * H}),
           i -> ascii(substr(text, CAST((i % length(text)) + 1 AS BIGINT), 1))) AS g
  FROM corpus
),
ph AS (
  SELECT doc_id, tier,
         array_to_string(list_transform(range({NB}),
           b -> CASE WHEN g[CAST((b // {W - 1}) * {W} + (b % {W - 1}) + 1 AS BIGINT)]
                        < g[CAST((b // {W - 1}) * {W} + (b % {W - 1}) + 2 AS BIGINT)]
                     THEN '1' ELSE '0' END), '') AS phash
  FROM grids
),
planted AS (
  SELECT m.tier,
         CAST(len(list_filter(range({NB}),
           i -> substr(o.phash, CAST(i + 1 AS BIGINT), 1)
             <> substr(m.phash, CAST(i + 1 AS BIGINT), 1))) AS INT) AS hamming
  FROM ph o JOIN ph m ON m.doc_id = o.doc_id + m.tier * {ID_OFFSET}
  WHERE o.tier = 0 AND m.tier > 0
)
SELECT 't' || CAST(tier AS VARCHAR) ||
         CASE tier WHEN 1 THEN '_1byte' WHEN 2 THEN '_4bytes'
                   ELSE '_reversed' END AS tier,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(CASE WHEN hamming <= {B} THEN 1 ELSE 0 END) AS BIGINT) AS n_caught,
       CAST(SUM(CASE WHEN hamming <= {B} THEN 1 ELSE 0 END) * 10000
            // COUNT(*) AS BIGINT) AS catch_bp
FROM planted GROUP BY tier ORDER BY tier
"""


IMAGE_PHASH_RECALL_ORACLE = _img_cert_oracle()


@register("image_phash_recall_certification", IMAGE_PHASH_RECALL_ORACLE)
def image_phash_recall_certification(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import documents_as_assets as as_assets
    from ..operators.multimodal import perceptual_hash
    from ..sources.parquet import table_row_count

    base = (
        load_table(spark, sf_dir, "documents")
        .filter(
            (F.col("doc_id") % CERT_SAMPLE_MOD == 0) & (F.col("n_chars") >= 72)
        )
        .select("doc_id", "text")
    )
    tier_names = {1: "t1_1byte", 2: "t2_4bytes", 3: "t3_reversed"}
    corpus = base
    for t in (1, 2, 3):
        corpus = corpus.unionByName(
            base.select(
                (F.col("doc_id") + t * ID_OFFSET).alias("doc_id"),
                F.expr(_img_mutation_expr(t)).alias("text"),
            )
        )
    fp = perceptual_hash(
        as_assets(corpus), grid_w=_PHASH_GRID_W, grid_h=_PHASH_GRID_H
    ).select("asset_id", F.col("phash").alias("simhash"))
    # same footer-count dispatch as the registered image query (the
    # cert corpus is sample/4 originals x 4 variants ~ the table count)
    pair_fn = (
        simhash_near_pairs_multitable
        if table_row_count(sf_dir, "documents") > PHASH_MULTITABLE_MIN_ASSETS
        else simhash_near_pairs
    )
    caught = pair_fn(
        fp, "asset_id", max_hamming=PHASH_MAX_HAMMING, n_bits=_PHASH_BITS
    ).select("id_a", "id_b", F.lit(1).alias("__hit"))
    planted = None
    for t, name in tier_names.items():
        p = base.select(
            F.col("doc_id").alias("id_a"),
            (F.col("doc_id") + t * ID_OFFSET).alias("id_b"),
            F.lit(name).alias("tier"),
        )
        planted = p if planted is None else planted.unionByName(p)
    return (
        planted.join(caught, ["id_a", "id_b"], "left")
        .groupBy("tier")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).cast("long")
            .alias("n_caught"),
        )
        .select(
            "tier", "n_pairs", "n_caught",
            F.expr("n_caught * 10000 DIV n_pairs").alias("catch_bp"),
        )
        .orderBy("tier")
    )


_VIDEO_CERT_EVERY_MS = 250  # denser sampling than the dedup query's
#   1000 ms: the cert needs per-asset frame counts (~n_chars/25) deep
#   enough that tier percentages resolve below the 6000 bp threshold
_VIDEO_CERT_MIN_CHARS = 200  # >= 8 frames per asset at 25-char stride
_VIDEO_CERT_TIERS = {1: ("t1_10pct", 10), 2: ("t2_36pct", 36), 3: ("t3_75pct", 75)}


def _video_mutation_expr(pct: int, div: str = "//") -> str:
    """Reverse the central pct% of the payload — integer arithmetic
    only; the division token differs (`//` DuckDB, `DIV` Spark)."""
    ln = f"length(text) * {pct} {div} 100"
    start = f"(length(text) - {ln}) {div} 2"
    return (
        f"substr(text, 1, {start}) || "
        f"reverse(substr(text, {start} + 1, {ln})) || "
        f"substr(text, {start} + {ln} + 1)"
    )


def _video_cert_oracle() -> str:
    E = _VIDEO_CERT_EVERY_MS
    tiers = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {t} AS tier, {_video_mutation_expr(p)} AS text, n_chars"
        f" FROM base"
        for t, (_, p) in _VIDEO_CERT_TIERS.items()
    )
    return f"""
WITH base AS (
  SELECT doc_id, text, n_chars FROM documents
  WHERE doc_id % {CERT_SAMPLE_MOD} = 0 AND n_chars >= {_VIDEO_CERT_MIN_CHARS}
),
corpus AS (
  SELECT doc_id, 0 AS tier, text, n_chars FROM base
  UNION ALL
  SELECT doc_id + tier * {ID_OFFSET} AS doc_id, tier, text, n_chars FROM ({tiers})
),
stepped AS (
  SELECT doc_id, text, n, GREATEST(1, length(text) // n) AS step
  FROM (SELECT doc_id, text,
               GREATEST(1, (n_chars * 10) // {E}) AS n
        FROM corpus)
),
frames AS (
  SELECT DISTINCT doc_id, substr(text, CAST(i * step + 1 AS INT), 16) AS fr
  FROM (SELECT doc_id, text, step, unnest(range(0, n)) AS i FROM stepped)
),
capped AS (
  SELECT doc_id, fr FROM (
    SELECT doc_id, fr, COUNT(*) OVER (PARTITION BY fr) AS df FROM frames
  ) WHERE df <= {VIDEO_FRAME_MAX_DF}
),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fr FROM capped GROUP BY doc_id),
planted AS (
  SELECT b.doc_id AS id_a, b.doc_id + t.tier * {ID_OFFSET} AS id_b, t.tier
  FROM base b CROSS JOIN (SELECT DISTINCT tier FROM corpus WHERE tier > 0) t
),
shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(COUNT(*) AS BIGINT) AS shared_frames
  FROM capped a JOIN capped b ON a.fr = b.fr AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
judged AS (
  -- sizes joins are LEFT so a planted pair survives even if the df cap
  -- empties one side's frame set (it then counts as not caught — the
  -- Spark pipeline drops such a pair from its inner sizes join, same
  -- verdict)
  SELECT p.tier,
         CASE WHEN sa.n_fr IS NOT NULL AND sb.n_fr IS NOT NULL
                   AND COALESCE(s.shared_frames, 0) * 10000
                       >= {VIDEO_NEAR_DUP_MIN_BP} * LEAST(sa.n_fr, sb.n_fr)
              THEN 1 ELSE 0 END AS caught
  FROM planted p
  LEFT JOIN shared s ON s.id_a = p.id_a AND s.id_b = p.id_b
  LEFT JOIN sizes sa ON sa.doc_id = p.id_a
  LEFT JOIN sizes sb ON sb.doc_id = p.id_b
)
SELECT CASE tier WHEN 1 THEN 't1_10pct' WHEN 2 THEN 't2_36pct'
                 ELSE 't3_75pct' END AS tier,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(caught) AS BIGINT) AS n_caught,
       CAST(SUM(caught) * 10000 // COUNT(*) AS BIGINT) AS catch_bp
FROM judged GROUP BY tier ORDER BY 1
"""


VIDEO_FRAME_RECALL_ORACLE = _video_cert_oracle()


@register("video_frame_recall_certification", VIDEO_FRAME_RECALL_ORACLE)
def video_frame_recall_certification(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import sample_frames

    base = (
        load_table(spark, sf_dir, "documents")
        .filter(
            (F.col("doc_id") % CERT_SAMPLE_MOD == 0)
            & (F.col("n_chars") >= _VIDEO_CERT_MIN_CHARS)
        )
        .select("doc_id", "text", "n_chars")
    )
    corpus = base
    for t, (_, pct) in _VIDEO_CERT_TIERS.items():
        corpus = corpus.unionByName(
            base.select(
                (F.col("doc_id") + t * ID_OFFSET).alias("doc_id"),
                F.expr(_video_mutation_expr(pct, div="DIV")).alias("text"),
                "n_chars",
            )
        )
    frames = sample_frames(_video_assets(corpus), every_ms=_VIDEO_CERT_EVERY_MS)
    # the registered pair pipeline IS the certified path; the planted
    # left join then reads catch/no-catch off its thresholded output
    caught = _video_frame_pairs(frames).select(
        "id_a", "id_b", F.lit(1).alias("__hit")
    )
    planted = None
    for t, (name, _) in _VIDEO_CERT_TIERS.items():
        p = base.select(
            F.col("doc_id").alias("id_a"),
            (F.col("doc_id") + t * ID_OFFSET).alias("id_b"),
            F.lit(name).alias("tier"),
        )
        planted = p if planted is None else planted.unionByName(p)
    return (
        planted.join(caught, ["id_a", "id_b"], "left")
        .groupBy("tier")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).cast("long")
            .alias("n_caught"),
        )
        .select(
            "tier", "n_pairs", "n_caught",
            F.expr("n_caught * 10000 DIV n_pairs").alias("catch_bp"),
        )
        .orderBy("tier")
    )


# ---------------------------------------------------------------------------
# Bitext margin mining (round 9c): margin-based parallel-pair mining
# (Artetxe & Schwenk 2019, the `ratio` variant, forward direction) —
# for each query vector on side A, the best side-B candidate scored by
# cosine DIVIDED by the mean cosine of the query's k nearest B
# neighbors. Raw cosine thresholds over-accept hubs (vectors close to
# everything); the margin normalizes by the query's own neighborhood
# density so only matches that BEAT the query's background similarity
# are accepted. Sides are simulated by vec_id parity (A = even,
# B = odd); the query panel is the standard bounded batch
# (BITEXT_QUERIES even ids, the ann_recall_at_k pattern).
#
# Determinism: cosines quantize to exact integer micro-units
# (cos_micro = round(cos * 1e6)), the k-NN mean stays an exact integer
# sum, and the margin is one integer division of positive operands —
# bit-identical cross-engine, no double accumulation anywhere.
#
# Scale: candidates x broadcast panel (panel is O(100) rows at any
# corpus size — one linear pass over side B); per-query ranking is a
# window over panel-bounded groups. At 100 TB mine in panel batches
# against the same single corpus pass; the full-corpus form replaces
# the panel with the banded sign-LSH candidate join
# (embedding_neardup_pairs) and applies the same margin arithmetic to
# its candidate set.
# ---------------------------------------------------------------------------
BITEXT_QUERIES, BITEXT_K, BITEXT_MARGIN_PPM = 20, 4, 1_050_000

BITEXT_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS qid, {_RECALL_QUANT} AS qv
  FROM embeddings WHERE vec_id % 2 = 0 AND vec_id < {2 * BITEXT_QUERIES}
), cand AS (
  SELECT vec_id, {_RECALL_QUANT} AS vv FROM embeddings WHERE vec_id % 2 = 1
), scored AS (
  SELECT q.qid, cand.vec_id,
         CAST(ROUND({_sql_cosine_preq('cand.vv', 'q.qv')} * 1000000) AS BIGINT)
           AS cos_micro
  FROM cand CROSS JOIN q
), ranked AS (
  SELECT qid, vec_id, cos_micro,
         ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY cos_micro DESC, vec_id) AS rn
  FROM scored
), agg AS (
  SELECT qid,
         MAX(CASE WHEN rn = 1 THEN vec_id END) AS match_id,
         MAX(CASE WHEN rn = 1 THEN cos_micro END) AS top_cos_micro,
         CAST(SUM(cos_micro) AS BIGINT) AS sum_top_micro
  FROM ranked WHERE rn <= {BITEXT_K} GROUP BY qid
)
SELECT qid AS query_id, match_id, top_cos_micro,
       CASE WHEN top_cos_micro > 0 AND sum_top_micro > 0
            THEN top_cos_micro * {BITEXT_K} * 1000000 // sum_top_micro
            END AS margin_ppm,
       CASE WHEN top_cos_micro > 0 AND sum_top_micro > 0
                 AND top_cos_micro * {BITEXT_K} * 1000000 // sum_top_micro
                     >= {BITEXT_MARGIN_PPM}
            THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS accepted
FROM agg
ORDER BY query_id
"""


@register("bitext_margin_mining", BITEXT_ORACLE)
def bitext_margin_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import cosine_q_pre, dot_q, quantized

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(
        (F.col("vec_id") % 2 == 0) & (F.col("vec_id") < 2 * BITEXT_QUERIES)
    ).select(
        F.col("vec_id").alias("__qid"), quantized(F.col("embedding")).alias("__qv")
    ).withColumn("__qn2", dot_q(F.col("__qv"), F.col("__qv")))
    cand = emb.filter(F.col("vec_id") % 2 == 1).select(
        "vec_id", quantized(F.col("embedding")).alias("__v")
    ).withColumn("__vn2", dot_q(F.col("__v"), F.col("__v")))
    scored = cand.crossJoin(F.broadcast(q)).select(
        "__qid",
        "vec_id",
        # double rounding MIRRORS the oracle exactly (ADVICE r9 #2):
        # _sql_cosine_preq embeds a 6-decimal round, then the micro
        # scaling rounds again — same expression tree on both engines,
        # no ulp-level argument about either engine's round(); the
        # precomputed norms are the identical int64s, so the division
        # is the same double
        F.round(
            F.round(
                cosine_q_pre(
                    F.col("__v"), F.col("__vn2"), F.col("__qv"), F.col("__qn2")
                ),
                6,
            )
            * 1_000_000,
            0,
        )
        .cast("bigint")
        .alias("cos_micro"),
    )
    ranked = scored.withColumn(
        "__rn",
        F.row_number().over(
            W.partitionBy("__qid").orderBy(F.col("cos_micro").desc(), "vec_id")
        ),
    ).filter(F.col("__rn") <= BITEXT_K)
    agg = ranked.groupBy("__qid").agg(
        F.max(F.when(F.col("__rn") == 1, F.col("vec_id"))).alias("match_id"),
        F.max(F.when(F.col("__rn") == 1, F.col("cos_micro"))).alias(
            "top_cos_micro"
        ),
        F.sum("cos_micro").cast("bigint").alias("__sum_top"),
    )
    margin = F.when(
        (F.col("top_cos_micro") > 0) & (F.col("__sum_top") > 0),
        F.expr(f"top_cos_micro * {BITEXT_K} * 1000000 DIV __sum_top"),
    )
    return agg.select(
        F.col("__qid").alias("query_id"),
        "match_id",
        "top_cos_micro",
        margin.alias("margin_ppm"),
        F.when(margin >= BITEXT_MARGIN_PPM, F.lit(1))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("accepted"),
    ).orderBy("query_id")


# ---------------------------------------------------------------------------
# kNN label-noise audit (round 9c): for each audited vector, how many of
# its k nearest neighbors (quantized cosine, any label) carry a DIFFERENT
# label, and which foreign label dominates — the confident-learning-style
# mislabel screen for supervised curation (a point whose neighborhood
# votes supermajority-against its own label is a labeling-error
# candidate; relabeling/pruning those is a standard dataset-quality
# pass). Audit panel = first KNN_AUDIT vec_ids, the bounded-batch
# pattern; every statistic is an exact integer count.
#
# Scale: corpus x broadcast panel (one linear pass, no corpus self-join);
# neighbor ranking windows over panel-bounded groups; the majority-label
# vote aggregates at most KNN_AUDIT * KNN_K rows. At 100 TB audit in
# panels against one corpus pass per batch, or swap the panel for the
# sign-LSH candidate join to audit the full corpus approximately.
# ---------------------------------------------------------------------------
KNN_AUDIT, KNN_K, KNN_FLAG_MIN = 60, 5, 5

KNN_NOISE_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS qid, label AS qlabel, {_RECALL_QUANT} AS qv
  FROM embeddings WHERE vec_id < {KNN_AUDIT}
), v AS (
  SELECT vec_id, label, {_RECALL_QUANT} AS vv FROM embeddings
), scored AS (
  SELECT q.qid, q.qlabel, v.vec_id, v.label,
         CAST(ROUND({_sql_cosine_preq('v.vv', 'q.qv')} * 1000000) AS BIGINT)
           AS cos_micro
  FROM v CROSS JOIN q WHERE v.vec_id != q.qid
), knn AS (
  SELECT qid, qlabel, label FROM (
    SELECT qid, qlabel, label,
           ROW_NUMBER() OVER (PARTITION BY qid
                              ORDER BY cos_micro DESC, vec_id) AS rn
    FROM scored)
  WHERE rn <= {KNN_K}
), votes AS (
  SELECT qid, label, CAST(COUNT(*) AS BIGINT) AS n
  FROM knn WHERE label != qlabel GROUP BY 1, 2
), majority AS (
  SELECT qid, label AS majority_other_label FROM (
    SELECT qid, label,
           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY n DESC, label) AS rn
    FROM votes)
  WHERE rn = 1
), per_q AS (
  SELECT qid, qlabel,
         CAST(SUM(CASE WHEN label != qlabel THEN 1 ELSE 0 END) AS BIGINT)
           AS n_disagree
  FROM knn GROUP BY 1, 2
)
SELECT p.qid AS vec_id, CAST(p.qlabel AS BIGINT) AS label, p.n_disagree,
       CAST(m.majority_other_label AS BIGINT) AS majority_other_label,
       CASE WHEN p.n_disagree >= {KNN_FLAG_MIN}
            THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS flagged
FROM per_q p LEFT JOIN majority m ON p.qid = m.qid
ORDER BY vec_id
"""


@register("knn_label_noise", KNN_NOISE_ORACLE)
def knn_label_noise(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import cosine_q_pre, dot_q, quantized

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < KNN_AUDIT).select(
        F.col("vec_id").alias("__qid"),
        F.col("label").alias("__qlabel"),
        quantized(F.col("embedding")).alias("__qv"),
    ).withColumn("__qn2", dot_q(F.col("__qv"), F.col("__qv")))
    v = emb.select(
        "vec_id", "label", quantized(F.col("embedding")).alias("__v")
    ).withColumn("__vn2", dot_q(F.col("__v"), F.col("__v")))
    scored = (
        v.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("__qid"))
        .select(
            "__qid",
            "__qlabel",
            "vec_id",
            "label",
            # double rounding mirrors the oracle's ROUND(ROUND(c,6)*1e6)
            # exactly (ADVICE r9 #2; see bitext_margin_mining)
            F.round(
                F.round(
                    cosine_q_pre(
                        F.col("__v"), F.col("__vn2"), F.col("__qv"), F.col("__qn2")
                    ),
                    6,
                )
                * 1_000_000,
                0,
            )
            .cast("bigint")
            .alias("cos_micro"),
        )
    )
    knn = scored.withColumn(
        "__rn",
        F.row_number().over(
            W.partitionBy("__qid").orderBy(F.col("cos_micro").desc(), "vec_id")
        ),
    ).filter(F.col("__rn") <= KNN_K)
    # Per-(query, neighbor-label) vote counts, materialized ONCE behind a
    # lazy localCheckpoint: both downstream consumers (the disagree count
    # and the majority-label window) read these <= KNN_AUDIT * KNN_K rows
    # instead of re-running the corpus x panel scoring pass (the
    # dedup-family single-evaluation pattern).
    votes = (
        knn.groupBy("__qid", "__qlabel", "label")
        .agg(F.count(F.lit(1)).alias("__n"))
        .localCheckpoint(eager=False)
    )
    other = votes.filter(F.col("label") != F.col("__qlabel"))
    majority = (
        other.withColumn(
            "__vrn",
            F.row_number().over(
                W.partitionBy("__qid").orderBy(F.col("__n").desc(), "label")
            ),
        )
        .filter(F.col("__vrn") == 1)
        .select("__qid", F.col("label").alias("majority_other_label"))
    )
    per_q = votes.groupBy("__qid", "__qlabel").agg(
        F.sum(
            F.when(F.col("label") != F.col("__qlabel"), F.col("__n")).otherwise(
                F.lit(0)
            )
        )
        .cast("bigint")
        .alias("n_disagree")
    )
    return (
        per_q.join(majority, "__qid", "left")
        .select(
            F.col("__qid").alias("vec_id"),
            F.col("__qlabel").cast("bigint").alias("label"),
            "n_disagree",
            F.col("majority_other_label").cast("bigint").alias(
                "majority_other_label"
            ),
            F.when(F.col("n_disagree") >= KNN_FLAG_MIN, F.lit(1))
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("flagged"),
        )
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# Frechet embedding distance, diagonal form (round 9c): the FID-style
# distribution distance between the reference label group and every
# other label group over the embedding space — d^2 = ||mu_a - mu_b||^2 +
# sum_i (var_a_i + var_b_i - 2*sqrt(var_a_i * var_b_i)) with diagonal
# covariances (the full-covariance matrix-sqrt form needs an
# eigendecomposition; the diagonal form is the standard closed-form
# surrogate and is what per-dimension statistics can certify exactly).
# Complements js_divergence_sources: JSD drifts over TOKEN distributions,
# this drifts over the EMBEDDING manifold — the two standard axes of
# corpus-mix monitoring.
#
# Determinism: per-(label, dim) sums of quantized int64 values are exact;
# mean/variance derive from those integers through a FIXED double
# expression tree (no double aggregation); each dimension's contribution
# rounds to integer quantized-squared units before the final 64-term sum,
# which is again exact int64. Bit-identical cross-engine.
#
# Scale: one posexplode pass (rows x 64) into a (labels x 64)-group hash
# aggregate with map-side combine — linear scan shape, constant-size
# aggregate state; everything downstream operates on <= labels*64 rows.
# ---------------------------------------------------------------------------
FRECHET_REF_LABEL = 0

_FID_DIM_SQL = """
WITH dims AS (
  SELECT label, i,
         CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 10000) AS BIGINT) AS q
  FROM embeddings, range(1, 65) t(i)
), stats AS (
  SELECT label, i, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(q) AS BIGINT) AS s1, CAST(SUM(q * q) AS BIGINT) AS s2
  FROM dims GROUP BY 1, 2
)
"""

FRECHET_ORACLE = f"""
{_FID_DIM_SQL}
SELECT CAST(d.label AS BIGINT) AS label,
       MAX(d.n) AS n_vecs,
       CAST(SUM(CAST(ROUND(
         (ma - mb) * (ma - mb) + va + vb - 2 * SQRT(va * vb)
       ) AS BIGINT)) AS BIGINT) AS fid_qunits
FROM (
  SELECT a.label AS alabel, b.label, b.n, a.i,
         CAST(a.s1 AS DOUBLE) / a.n AS ma, CAST(b.s1 AS DOUBLE) / b.n AS mb,
         GREATEST(CAST(a.s2 AS DOUBLE) / a.n
                  - (CAST(a.s1 AS DOUBLE) / a.n) * (CAST(a.s1 AS DOUBLE) / a.n),
                  0) AS va,
         GREATEST(CAST(b.s2 AS DOUBLE) / b.n
                  - (CAST(b.s1 AS DOUBLE) / b.n) * (CAST(b.s1 AS DOUBLE) / b.n),
                  0) AS vb
  FROM stats a JOIN stats b ON a.i = b.i
  WHERE a.label = {FRECHET_REF_LABEL} AND b.label != {FRECHET_REF_LABEL}) d
GROUP BY d.label
ORDER BY label
"""


@register("frechet_embedding_distance", FRECHET_ORACLE)
def frechet_embedding_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    dims = emb.select(
        "label",
        F.posexplode(F.col("embedding")).alias("__p", "__x"),
    ).select(
        "label",
        (F.col("__p") + 1).alias("i"),
        F.round(F.col("__x").cast("double") * 10000, 0).cast("bigint").alias("q"),
    )
    stats = dims.groupBy("label", "i").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("q").cast("bigint").alias("s1"),
        F.sum(F.col("q") * F.col("q")).cast("bigint").alias("s2"),
    )
    a = stats.filter(F.col("label") == FRECHET_REF_LABEL).select(
        "i",
        F.col("n").alias("__na"),
        F.col("s1").alias("__s1a"),
        F.col("s2").alias("__s2a"),
    )
    b = stats.filter(F.col("label") != FRECHET_REF_LABEL)
    mean_a = F.col("__s1a").cast("double") / F.col("__na")
    mean_b = F.col("s1").cast("double") / F.col("n")
    var_a = F.greatest(
        F.col("__s2a").cast("double") / F.col("__na") - mean_a * mean_a, F.lit(0.0)
    )
    var_b = F.greatest(
        F.col("s2").cast("double") / F.col("n") - mean_b * mean_b, F.lit(0.0)
    )
    d2 = (
        (mean_a - mean_b) * (mean_a - mean_b)
        + var_a
        + var_b
        - 2 * F.sqrt(var_a * var_b)
    )
    return (
        b.join(F.broadcast(a), "i")
        .select("label", "n", F.round(d2, 0).cast("bigint").alias("__c"))
        .groupBy("label")
        .agg(
            F.max("n").alias("n_vecs"),
            F.sum("__c").cast("bigint").alias("fid_qunits"),
        )
        .select(F.col("label").cast("bigint").alias("label"), "n_vecs", "fid_qunits")
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# Bigram stupid-backoff LM scoring (round 9c): per-document mean token
# score under a bigram model with stupid backoff (Brants et al. 2007,
# "Large Language Models in Machine Translation" — the non-normalized
# backoff that replaces Kneser-Ney at web scale BECAUSE it needs only
# counts): score(w2|w1) = c(w1 w2)/c(w1) when the bigram was seen in
# training, else 0.4 * c(w2)/total, else 0 for OOV. The model trains on
# the doc_id % 10 == 0 decile and scores ALL documents, so held-out docs
# genuinely exercise the backoff and OOV paths (training and scoring on
# the same corpus would never back off; a half-corpus model still saw
# nearly every bigram of this fixture's shared vocabulary). Upgrades unigram_lm_score's
# fluency proxy with local word-order sensitivity — scrambled text keeps
# its unigram score but collapses here.
#
# Determinism: per-position scores are integer-ppm floor divisions of
# positive operands (never a log, never a double sum); the per-document
# mean is one exact integer sum and one final floor division —
# bit-identical cross-engine.
#
# Scale: one bigram explode collapsed immediately to per-(doc, bigram)
# counts (map-side combine eats within-doc repeats); corpus bigram and
# unigram tables are hash aggregates of the training half; three
# co-partitioned shuffle joins of the collapsed stream (bigram/unigram
# vocabularies are unbounded — never broadcast); the corpus total is a
# 1-row broadcast scalar. Linear scan shape throughout.
# ---------------------------------------------------------------------------
BACKOFF_ALPHA_PPM = 400_000  # 0.4 scaled to ppm

BACKOFF_ORACLE = rf"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS ws
  FROM documents
), pos AS (
  SELECT doc_id, g.w1 AS w1, g.w2 AS w2
  FROM (SELECT doc_id,
               unnest(list_transform(range(1, len(ws)),
                                     i -> {{'w1': ws[i], 'w2': ws[i + 1]}})) AS g
        FROM w WHERE len(ws) >= 2)
), grams AS (
  SELECT doc_id, w1, w2, CAST(COUNT(*) AS BIGINT) AS k
  FROM pos GROUP BY 1, 2, 3
), bc AS (
  SELECT w1, w2, CAST(SUM(k) AS BIGINT) AS bc
  FROM grams WHERE doc_id % 10 = 0 GROUP BY 1, 2
), uc AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS uc FROM (
    SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
    FROM documents WHERE doc_id % 10 = 0)
  GROUP BY 1
), total AS (SELECT CAST(SUM(uc) AS BIGINT) AS total FROM uc),
scored AS (
  SELECT g.doc_id, g.k,
         CASE WHEN b.bc IS NOT NULL
              THEN 1000000 * b.bc // u1.uc
              WHEN u2.uc IS NOT NULL
              THEN {BACKOFF_ALPHA_PPM} * u2.uc // t.total
              ELSE 0 END AS s_ppm,
         CASE WHEN b.bc IS NULL AND u2.uc IS NOT NULL THEN g.k ELSE 0 END
           AS k_backoff,
         CASE WHEN u2.uc IS NULL THEN g.k ELSE 0 END AS k_oov
  FROM grams g
  LEFT JOIN bc b ON g.w1 = b.w1 AND g.w2 = b.w2
  LEFT JOIN uc u1 ON g.w1 = u1.term
  LEFT JOIN uc u2 ON g.w2 = u2.term
  CROSS JOIN total t
)
SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n_bigrams,
       CAST(SUM(k_backoff) AS BIGINT) AS n_backoff,
       CAST(SUM(k_oov) AS BIGINT) AS n_oov,
       CAST(SUM(k * s_ppm) AS BIGINT) // CAST(SUM(k) AS BIGINT)
         AS avg_score_ppm
FROM scored GROUP BY doc_id
ORDER BY doc_id
"""


@register("stupid_backoff_lm", BACKOFF_ORACLE)
def stupid_backoff_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = docs.select("doc_id", words_col(F.col("text")).alias("__ws")).filter(
        F.size("__ws") >= 2
    )
    pos = word_grams(w, "__ws", 2).select(
        "doc_id",
        F.element_at("__ws", F.col("pos")).alias("w1"),
        F.element_at("__ws", F.col("pos") + 1).alias("w2"),
    )
    grams = pos.groupBy("doc_id", "w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("k")
    )
    bc = (
        grams.filter(F.col("doc_id") % 10 == 0)
        .groupBy("w1", "w2")
        .agg(F.sum("k").cast("bigint").alias("__bc"))
    )
    uc = (
        docs.filter(F.col("doc_id") % 10 == 0)
        .select(F.explode(words_col(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__uc"))
    )
    total = uc.select(F.sum("__uc").cast("bigint").alias("__total"))
    scored = (
        grams.join(bc, ["w1", "w2"], "left")
        .join(
            uc.select(F.col("term").alias("w1"), F.col("__uc").alias("__uc1")),
            "w1",
            "left",
        )
        .join(
            uc.select(F.col("term").alias("w2"), F.col("__uc").alias("__uc2")),
            "w2",
            "left",
        )
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "k",
            F.when(
                F.col("__bc").isNotNull(),
                F.expr("1000000 * __bc DIV __uc1"),
            )
            .when(
                F.col("__uc2").isNotNull(),
                F.expr(f"{BACKOFF_ALPHA_PPM} * __uc2 DIV __total"),
            )
            .otherwise(F.lit(0).cast("bigint"))
            .alias("s_ppm"),
            F.when(
                F.col("__bc").isNull() & F.col("__uc2").isNotNull(), F.col("k")
            )
            .otherwise(F.lit(0).cast("bigint"))
            .alias("k_backoff"),
            F.when(F.col("__uc2").isNull(), F.col("k"))
            .otherwise(F.lit(0).cast("bigint"))
            .alias("k_oov"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.sum("k").cast("bigint").alias("n_bigrams"),
            F.sum("k_backoff").cast("bigint").alias("n_backoff"),
            F.sum("k_oov").cast("bigint").alias("n_oov"),
            F.expr(
                "CAST(SUM(k * s_ppm) AS BIGINT) DIV CAST(SUM(k) AS BIGINT)"
            ).alias("avg_score_ppm"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Lexical diversity per source (round 9c): type-token ratio, hapax-
# legomenon share, and singleton-coverage — the corpus-linguistics
# screens for template-generated or boilerplate-heavy sources (machine-
# generated text shows abnormally LOW TTR — few types, many tokens —
# while OCR noise and ID-dense dumps show abnormally HIGH hapax share).
# Complements tokenizer_fertility (tokens per doc) and
# token_entropy_quality (distribution shape) with the type-level axis.
# All ratios are exact integer ppm floor divisions.
#
# Scale: one explode into a per-(source, term) hash aggregate (map-side
# combine collapses the Zipf head before the shuffle), then a per-source
# aggregate over the type table — linear scan shape, never a distinct on
# the raw token stream.
# ---------------------------------------------------------------------------
LEXDIV_ORACLE = r"""
WITH tok AS (
  SELECT source,
         unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
  FROM documents
), types AS (
  SELECT source, term, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM tok GROUP BY 1, 2
)
SELECT source,
       CAST(SUM(cnt) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_types,
       CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       CAST(COUNT(*) AS BIGINT) * 1000000 // CAST(SUM(cnt) AS BIGINT)
         AS ttr_ppm,
       CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) * 1000000
         // CAST(COUNT(*) AS BIGINT) AS hapax_ppm
FROM types GROUP BY source
ORDER BY source
"""


@register("lexical_diversity", LEXDIV_ORACLE)
def lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    types = (
        docs.select("source", F.explode(words_col(F.col("text"))).alias("term"))
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    return (
        types.groupBy("source")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_tokens"),
            F.count(F.lit(1)).cast("bigint").alias("n_types"),
            F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_hapax"),
        )
        .select(
            "source",
            "n_tokens",
            "n_types",
            "n_hapax",
            F.expr("n_types * 1000000 DIV n_tokens").alias("ttr_ppm"),
            F.expr("n_hapax * 1000000 DIV n_types").alias("hapax_ppm"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Template-prefix clustering (round 9c): group documents by their
# normalized first-TEMPLATE_WORDS-word head and report multi-document
# clusters — the C4/RefinedWeb-style screen for template spam (form
# letters, scraper boilerplate, auto-generated listings share an
# identical head long before they diverge in the tail; boilerplate_
# removal catches repeated SEGMENTS anywhere, this catches the
# head-template shape that segment df misses when tails pad each doc
# past the segment grid). The fixture plants a banner head on every
# fourth doc so a genuine cross-source template cluster exists at any
# scale factor alongside the corpus's natural small clusters.
#
# Scale: the prefix key is a per-row slice+join (no explode — cost is
# |head| per row, not |doc|); one hash aggregate on the prefix
# (map-side combine collapses template clusters early, exactly where
# they are biggest); the report is TakeOrderedAndProject top-20, never
# a global sort. Linear scan shape.
# ---------------------------------------------------------------------------
TEMPLATE_WORDS, TEMPLATE_TOP = 8, 20
TEMPLATE_BANNER = "dear valued customer thank you for your recent"

TEMPLATE_ORACLE = rf"""
WITH planted AS (
  SELECT doc_id, source,
         CASE WHEN doc_id % 4 = 0 THEN '{TEMPLATE_BANNER} ' || text
              ELSE text END AS text
  FROM documents
), heads AS (
  SELECT doc_id, source,
         array_to_string(
           (regexp_split_to_array(trim(lower(text)), '\s+'))[1:{TEMPLATE_WORDS}],
           ' ') AS prefix
  FROM planted
), clusters AS (
  SELECT prefix, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
         CAST(MIN(doc_id) AS BIGINT) AS min_doc_id
  FROM heads GROUP BY prefix
)
SELECT prefix, n_docs, n_sources, min_doc_id
FROM clusters WHERE n_docs >= 2
ORDER BY n_docs DESC, prefix
LIMIT {TEMPLATE_TOP}
"""


@register("template_prefix_clusters", TEMPLATE_ORACLE)
def template_prefix_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.lit(TEMPLATE_BANNER + " "), F.col("text")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    heads = docs.select(
        "doc_id",
        "source",
        F.array_join(
            F.slice(words_col(F.col("text")), 1, TEMPLATE_WORDS), " "
        ).alias("prefix"),
    )
    return (
        heads.groupBy("prefix")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.countDistinct("source").cast("bigint").alias("n_sources"),
            F.min("doc_id").cast("bigint").alias("min_doc_id"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy(F.col("n_docs").desc(), "prefix")
        .limit(TEMPLATE_TOP)
    )


# ---------------------------------------------------------------------------
# Schema-evolution round-trip (round 9): TableStore's
# append(merge_schema=True) — the Delta mergeSchema / ALTER TABLE ADD
# COLUMNS analog — certified through the driver's oracle. Flow: write
# per-customer aggregates, then append an increment carrying a NEW
# `segment` column; the read back must null-fill the pre-evolution rows
# and carry the increment's values, through the real store read path
# (the logged per-version schema, never footer merging).
#
# Scale: evolution costs ONE JSON write — no table rewrite, no
# mergeSchema footer job over every file (at 100 TB that distinction is
# the whole feature); the append stays O(increment) hard-link
# versioning; the certified read is one scan. Output localCheckpointed
# before the tmp store is removed (the snapshot_diff pattern).
# ---------------------------------------------------------------------------
SCHEMA_EVO_ORACLE = """
WITH v1 AS (
  SELECT o_custkey AS k,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY 1
)
SELECT k, cents, CAST(NULL AS VARCHAR) AS segment FROM v1
UNION ALL
SELECT k + 10000000 AS k, cents, 'evolved' AS segment
FROM v1 WHERE k % 3 = 0
"""


@register("schema_evolution_roundtrip", SCHEMA_EVO_ORACLE)
def schema_evolution_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ..sources.table_store import TableStore

    v1_df = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(
            F.sum(F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)")).alias("cents")
        )
    )
    inc = v1_df.filter(F.col("k") % 3 == 0).select(
        (F.col("k") + 10_000_000).alias("k"),
        "cents",
        F.lit("evolved").alias("segment"),
    )
    tmp = tempfile.mkdtemp(prefix="ddw_evo_")
    try:
        store = TableStore(spark, tmp)
        store.overwrite("t", v1_df)
        store.append("t", inc, merge_schema=True)
        return (
            store.read("t")
            .select("k", "cents", "segment")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
