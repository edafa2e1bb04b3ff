"""Text-analysis / dedup / similarity queries over documents+embeddings, each
with a DuckDB oracle reproducing the identical deterministic algorithm
(md5-based hashing — see functions/hashing.py — makes the engines agree
bit-for-bit on every hash value).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bears_spark.functions import dedup as dd
from bears_spark.functions import similarity as sim
from bears_spark.functions.text import (
    LANG_STOPWORDS,
    avg_token_len,
    fingerprint64,
    lang_id,
    punct_ratio,
    quality_score,
    stopword_ratio,
    token_count,
)
from bears_spark.caching import plan_memo
from bears_spark.localframe import local_df
from bears_spark.functions.litutil import double_lit
from bears_spark.queries.tables import load_table

# shared SQL fragments for the oracles
_TOKS = "list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')"
_NORM = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"


def _hex2int(expr: str) -> str:
    return f"('0x' || substr(md5({expr}), 1, 15))::BIGINT"


# --------------------------------------------------------------------------
# text_stats: per-document token stats + quality score (C4/Gopher-style).
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        F.round(avg_token_len("text"), 6).alias("avg_token_len"),
        F.round(punct_ratio("text"), 6).alias("punct_ratio"),
        F.round(stopword_ratio("text"), 6).alias("stopword_ratio"),
        F.round(quality_score("text"), 6).alias("quality"),
    ).orderBy("doc_id")


_SW_LIST = "['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as']"
_PUNCT_SQL = """length(text) - length(regexp_replace(text, '[!"#$%&''()*+,\\-./:;<=>?@\\[\\\\\\]^_`{|}~]', '', 'g'))"""

TEXT_STATS_SQL = f"""
WITH t AS (
  SELECT doc_id, text, {_TOKS} AS toks FROM documents
), s AS (
  SELECT doc_id,
         len(toks) AS n_tokens,
         CASE WHEN len(toks) > 0
              THEN list_sum(list_transform(toks, x -> length(x)))::DOUBLE / len(toks)
              ELSE 0.0 END AS atl,
         CASE WHEN length(text) > 0
              THEN ({_PUNCT_SQL})::DOUBLE / length(text)
              ELSE 0.0 END AS pr,
         CASE WHEN len(toks) > 0
              THEN len(list_filter(list_transform(toks, x -> lower(x)), x -> list_contains({_SW_LIST}, x)))::DOUBLE / len(toks)
              ELSE 0.0 END AS swr
  FROM t
)
SELECT doc_id, n_tokens,
       round(atl, 6) AS avg_token_len,
       round(pr, 6) AS punct_ratio,
       round(swr, 6) AS stopword_ratio,
       round((CASE WHEN n_tokens BETWEEN 10 AND 100000 THEN 0.25 ELSE 0 END)
           + (CASE WHEN swr >= 0.05 THEN 0.25 ELSE 0 END)
           + (CASE WHEN pr <= 0.2 THEN 0.25 ELSE 0 END)
           + (CASE WHEN atl BETWEEN 2.0 AND 12.0 THEN 0.25 ELSE 0 END), 6) AS quality
FROM s ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# lang_id_confusion: stopword-vote language ID vs the labeled lang column.
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("lang", lang_id("text").alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count("*").alias("n"))
        .orderBy("lang", "predicted")
    )


_TOKS_LOWER = "list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), x -> x <> '')"


def _lang_score_sql(lang: str) -> str:
    words = ",".join(f"'{w}'" for w in LANG_STOPWORDS[lang])
    return f"len(list_filter({_TOKS_LOWER}, x -> list_contains([{words}], x)))"


LANG_ID_SQL = f"""
WITH s AS (
  SELECT lang,
         {_lang_score_sql('en')} AS s_en,
         {_lang_score_sql('de')} AS s_de,
         {_lang_score_sql('fr')} AS s_fr,
         {_lang_score_sql('es')} AS s_es,
         length(regexp_replace(lower(trim(text)), '[^一-鿿]', '', 'g')) AS cjk
  FROM documents
)
SELECT lang,
       CASE WHEN cjk > 0 THEN 'zh'
            WHEN s_en >= greatest(s_de, s_fr, s_es, 1) THEN 'en'
            WHEN s_de >= greatest(s_fr, s_es, 1) THEN 'de'
            WHEN s_fr >= greatest(s_es, 1) THEN 'fr'
            WHEN s_es >= 1 THEN 'es'
            ELSE 'unk' END AS predicted,
       count(*) AS n
FROM s GROUP BY 1, 2 ORDER BY lang, predicted
"""


# --------------------------------------------------------------------------
# doc_fingerprint: 60-bit normalized-text fingerprints (rolling-hash family).
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", fingerprint64("text").alias("fingerprint")).orderBy("doc_id")


DOC_FINGERPRINT_SQL = f"""
SELECT doc_id, {_hex2int("'0:' || " + _NORM)} AS fingerprint
FROM documents ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# dedup_exact: survivors of exact (normalized-fingerprint) dedup.
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dd.exact_dedup(docs, "text", "doc_id").orderBy("doc_id")


DEDUP_EXACT_SQL = f"""
SELECT min(doc_id) AS doc_id FROM documents GROUP BY {_hex2int(_NORM)} ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# dedup_ngram_jaccard: near-dup pairs by word-trigram Jaccard >= 0.5, with a
# document-frequency cap (grams in >100 docs dropped — the hot-join-key guard
# that keeps the gram self-join linear at web scale).
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # prune_unique_grams is LOSSLESS (df=1 grams cannot form a pair) and the
    # main self-join input reducer at scale: measured sf1 85.4s -> 32.0s
    # (2.7x) with identical pairs; neutral at sf0.01/sf0.1 (SCALE.md r11)
    pairs = dd.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.5, max_doc_freq=100,
        prune_unique_grams=True,
    )
    return pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard")).orderBy("id_a", "id_b")


NGRAM_JACCARD_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS t FROM documents
), g AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS grams
  FROM toks WHERE len(t) >= 3
), e0 AS (
  SELECT doc_id, unnest(grams) AS gram FROM g
), hot AS (
  SELECT gram FROM e0 GROUP BY gram HAVING count(*) > 100
), e AS (
  SELECT e0.* FROM e0 ANTI JOIN hot USING (gram)
), sz AS (
  SELECT doc_id, count(*) AS n_grams FROM e GROUP BY doc_id
), shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM e a JOIN e b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, round(inter::DOUBLE / (sa.n_grams + sb.n_grams - inter), 6) AS jaccard
FROM shared
JOIN sz sa ON shared.id_a = sa.doc_id
JOIN sz sb ON shared.id_b = sb.doc_id
WHERE inter::DOUBLE / (sa.n_grams + sb.n_grams - inter) >= 0.5
ORDER BY id_a, id_b
"""


# --------------------------------------------------------------------------
# dedup_minhash_lsh: banded-MinHash candidate pairs (16 hashes, 4 bands,
# word-trigram tokens).
_NUM_HASHES, _BANDS, _NGRAM_N = 16, 4, 3


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dd.minhash_lsh_candidates(
        docs, "doc_id", "text", num_hashes=_NUM_HASHES, bands=_BANDS, ngram_n=_NGRAM_N
    ).orderBy("id_a", "id_b")


def _minhash_sql() -> str:
    from bears_spark.functions.hashing import MINHASH_P, minhash_coeffs

    rpb = _NUM_HASHES // _BANDS
    sig_terms = ",\n         ".join(
        f"list_min(list_transform(bh, x -> (x * {a} + {b}) % {MINHASH_P})) AS h{i}"
        for i, (a, b) in ((i, minhash_coeffs(i)) for i in range(_NUM_HASHES))
    )
    band_rows = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band, concat_ws('_', {', '.join(f'h{b * rpb + j}' for j in range(rpb))}) AS band_sig FROM sig"
        for b in range(_BANDS)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS t FROM documents
), sh_t AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
  FROM toks WHERE len(t) >= {_NGRAM_N}
), bh_t AS (
  SELECT doc_id, list_transform(sh, s -> {_hex2int('s')} % {MINHASH_P}) AS bh
  FROM sh_t WHERE len(sh) > 0
), sig AS (
  SELECT doc_id,
         {sig_terms}
  FROM bh_t
), banded AS (
{band_rows}
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM banded a JOIN banded b ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
ORDER BY id_a, id_b
"""


MINHASH_LSH_SQL = _minhash_sql()


# --------------------------------------------------------------------------
# dedup_simhash: 32-bit SimHash near-pairs (hamming <= 3, 4x8-bit bands).
_SIMHASH_BITS = 48


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dd.simhash_near_pairs(docs, "doc_id", "text", max_hamming=3, bits=_SIMHASH_BITS, bands=4).orderBy(
        "id_a", "id_b"
    )


def _simhash_sql() -> str:
    bit_terms = " + ".join(
        f"(CASE WHEN list_sum(list_transform(h, x -> CASE WHEN (x >> {b}) & 1 = 1 THEN 1 ELSE -1 END)) > 0 THEN {1 << b}::BIGINT ELSE 0 END)"
        for b in range(_SIMHASH_BITS)
    )
    band_bits = _SIMHASH_BITS // 4
    mask = (1 << band_bits) - 1
    band_rows = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, simhash, {i} AS band, (simhash >> {i * band_bits}) & {mask} AS chunk FROM sk" for i in range(4)
    )
    return f"""
WITH t AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
), ht AS (
  SELECT doc_id, list_transform(toks, s -> {_hex2int('s')}) AS h FROM t
), sk AS (
  SELECT doc_id, ({bit_terms}) AS simhash FROM ht
), banded AS (
{band_rows}
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM banded a JOIN banded b ON a.band = b.band AND a.chunk = b.chunk AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
ORDER BY id_a, id_b
"""


SIMHASH_SQL = _simhash_sql()


# --------------------------------------------------------------------------
# dedup_embedding_cosine: semantic near-dup pairs (cosine >= 0.4, blocked by
# label to bound the join).
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = dd.embedding_cosine_pairs(emb, "vec_id", "embedding", block_col="label", threshold=0.4)
    return pairs.select("id_a", "id_b", F.round("cosine", 6).alias("cosine")).orderBy("id_a", "id_b")


_DOT = "list_sum(list_transform(list_zip(a.embedding, b.embedding), x -> x[1]::DOUBLE * x[2]::DOUBLE))"
_NA = "sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE)))"
_NB = "sqrt(list_sum(list_transform(b.embedding, x -> x::DOUBLE * x::DOUBLE)))"

EMB_COSINE_SQL = f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round({_DOT} / ({_NA} * {_NB}), 6) AS cosine
FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE {_DOT} / ({_NA} * {_NB}) >= 0.4
ORDER BY id_a, id_b
"""


# --------------------------------------------------------------------------
# ann_cosine_topk: exact brute-force top-10 neighbours of vec_id=0.
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    top = sim.cosine_topk(emb.filter(F.col("vec_id") != 0), "vec_id", "embedding", qvec, k=10)
    return top.select("vec_id", F.round("cosine", 6).alias("cosine"))


_QDOT = "list_sum(list_transform(list_zip(e.embedding, q.embedding), x -> x[1]::DOUBLE * x[2]::DOUBLE))"
_QNA = "sqrt(list_sum(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE)))"
_QNB = "sqrt(list_sum(list_transform(q.embedding, x -> x::DOUBLE * x::DOUBLE)))"

ANN_TOPK_SQL = f"""
WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0)
SELECT e.vec_id AS vec_id,
       round({_QDOT} / ({_QNA} * {_QNB}), 6) AS cosine
FROM embeddings e, q
WHERE e.vec_id != 0
ORDER BY {_QDOT} / ({_QNA} * {_QNB}) DESC, e.vec_id ASC
LIMIT 10
"""

# --------------------------------------------------------------------------
# ann_sq_topk: ADC-style top-k over int8-quantized embeddings — the codes
# from emb_int8_codes actually driving search: corpus vectors are stored as
# codes (4x smaller working set), reconstructed on the fly inside one
# projection, and scored asymmetrically against the RAW query vector. The
# plan is scan + TakeOrderedAndProject, same as ann_cosine_topk; only the
# scanned bytes shrink. Codes are integer-exact cross-engine, so the oracle
# rebuilds the codec in SQL and must agree to 6 decimals.
def ann_sq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.functions import vectors as vec

    emb = load_table(spark, sf_dir, "embeddings")
    mins, maxs = vec.fit_scalar_quantization(emb, "embedding")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    qlit = double_lit([float(v) for v in qvec])
    corpus = emb.filter(F.col("vec_id") != 0).select(
        "vec_id",
        vec.scalar_dequantize_expr(
            vec.scalar_quantize_expr("embedding", mins, maxs), mins, maxs
        ).alias("recon"),
    )
    cos = vec.dot("recon", qlit) / (vec.l2_norm("recon") * vec.l2_norm(qlit))
    return (
        corpus.select("vec_id", cos.alias("c"))
        .orderBy(F.desc("c"), F.asc("vec_id"))
        .limit(10)
        .select("vec_id", F.round("c", 6).alias("cosine_sq"))
    )


ANN_SQ_SQL = """
WITH d AS (
  SELECT generate_subscripts(embedding, 1) AS i, CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
), st AS (
  SELECT list(lo ORDER BY i) AS lo_l,
         list(CASE WHEN hi > lo THEN 255.0 / (hi - lo) ELSE 0 END ORDER BY i) AS sc_l,
         list(CASE WHEN hi > lo THEN (hi - lo) / 255.0 ELSE 0 END ORDER BY i) AS stp_l
  FROM (SELECT i, min(x) AS lo, max(x) AS hi FROM d GROUP BY i)
), r AS (
  SELECT vec_id,
         list_transform(embedding, (x, i) ->
           lo_l[i] + CAST(LEAST(255, GREATEST(0,
             CAST(round((CAST(x AS DOUBLE) - lo_l[i]) * sc_l[i]) AS INT))) AS DOUBLE) * stp_l[i]
         ) AS recon
  FROM embeddings, st
  WHERE vec_id != 0
), q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT r.vec_id AS vec_id,
         list_sum(list_transform(list_zip(r.recon, q.embedding), x -> x[1] * CAST(x[2] AS DOUBLE)))
         / (sqrt(list_sum(list_transform(r.recon, x -> x * x)))
            * sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS c
  FROM r, q
)
SELECT vec_id, round(c, 6) AS cosine_sq FROM scored ORDER BY c DESC, vec_id ASC LIMIT 10
"""


# --------------------------------------------------------------------------
# dedup_components: exact connected components over the MinHash candidate
# pairs — the distributed fixpoint min-label propagation graded against a
# DuckDB recursive-CTE transitive closure of the same pair set.
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = dd.minhash_lsh_candidates(
        docs, "doc_id", "text", num_hashes=_NUM_HASHES, bands=_BANDS, ngram_n=_NGRAM_N
    )
    return dd.connected_components(pairs).orderBy("id")


DEDUP_COMPONENTS_SQL = f"""
WITH RECURSIVE pairs AS ({MINHASH_LSH_SQL}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
walk (id, comp) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, w.comp FROM walk w JOIN edges e ON w.id = e.dst
)
SELECT id, min(comp) AS component FROM walk GROUP BY id ORDER BY id
"""


# --------------------------------------------------------------------------
# corpus_dedup_funnel: the curation report every dedup pipeline publishes —
# how many documents survive each rung: raw -> exact (byte-identical after
# normalization) -> near (MinHash component roots). Sequential semantics
# (each rung filters the previous rung's survivors); counts are exact and
# the oracle recomputes every rung independently, so a drift in ANY rung's
# survivor rule fails the gate. Each rung is an aggregate of an
# already-graded operator — no new heavy stage.
def corpus_dedup_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    exact = dd.exact_dedup(docs, "text", "doc_id")
    pairs = dd.minhash_lsh_candidates(
        docs, "doc_id", "text", num_hashes=_NUM_HASHES, bands=_BANDS, ngram_n=_NGRAM_N
    )
    comp = dd.connected_components(pairs)
    roots = (
        docs.join(comp, docs.doc_id == comp.id, "left")
        .filter(F.col("id").isNull() | (F.col("component") == F.col("doc_id")))
        .select("doc_id")
    )
    near = exact.join(roots, "doc_id", "left_semi")

    def stage(order: int, name: str, df: DataFrame) -> DataFrame:
        return df.agg(F.count("*").alias("n_docs")).select(
            F.lit(order).alias("stage_order"), F.lit(name).alias("stage"), "n_docs"
        )

    return (
        stage(0, "raw", docs)
        .unionByName(stage(1, "exact", exact))
        .unionByName(stage(2, "near", near))
        .orderBy("stage_order")
    )


CORPUS_DEDUP_FUNNEL_SQL = f"""
WITH RECURSIVE pairs AS ({MINHASH_LSH_SQL}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
walk (id, comp) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, w.comp FROM walk w JOIN edges e ON w.id = e.dst
),
comp AS (SELECT id, min(comp) AS component FROM walk GROUP BY id),
exact AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY {_hex2int(_NORM)}),
roots AS (
  SELECT d.doc_id FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
  WHERE c.id IS NULL OR c.component = d.doc_id
),
near AS (SELECT e.doc_id FROM exact e JOIN roots r ON e.doc_id = r.doc_id)
SELECT * FROM (VALUES
  (0, 'raw',   (SELECT count(*) FROM documents)),
  (1, 'exact', (SELECT count(*) FROM exact)),
  (2, 'near',  (SELECT count(*) FROM near))
) AS t(stage_order, stage, n_docs)
ORDER BY stage_order
"""


# --------------------------------------------------------------------------
# dedup_source_matrix: WHERE does duplication come from — near-dup pairs
# annotated with both docs' sources, folded into an unordered source-pair
# matrix. The per-(source,source) count is the dedup analytics a corpus
# curator actually reads: diagonal = within-source boilerplate, off-diagonal
# = mirror/scrape overlap between crawls. Two broadcast-friendly dim joins
# onto the (already bounded) candidate pair set — no new heavy stage.
def dedup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = dd.minhash_lsh_candidates(
        docs, "doc_id", "text", num_hashes=_NUM_HASHES, bands=_BANDS, ngram_n=_NGRAM_N
    )
    src = docs.select("doc_id", "source")
    ann = (
        pairs.join(src.withColumnsRenamed({"doc_id": "id_a", "source": "src_a"}), "id_a")
        .join(src.withColumnsRenamed({"doc_id": "id_b", "source": "src_b"}), "id_b")
    )
    return (
        ann.select(
            F.least("src_a", "src_b").alias("source_x"),
            F.greatest("src_a", "src_b").alias("source_y"),
        )
        .groupBy("source_x", "source_y")
        .agg(F.count("*").alias("n_pairs"))
        .orderBy("source_x", "source_y")
    )


DEDUP_SOURCE_MATRIX_SQL = f"""
WITH pairs AS ({MINHASH_LSH_SQL}),
ann AS (
  SELECT least(da.source, db.source) AS source_x,
         greatest(da.source, db.source) AS source_y
  FROM pairs
  JOIN documents da ON pairs.id_a = da.doc_id
  JOIN documents db ON pairs.id_b = db.doc_id
)
SELECT source_x, source_y, count(*) AS n_pairs
FROM ann GROUP BY source_x, source_y ORDER BY source_x, source_y
"""


# --------------------------------------------------------------------------
# doc_leakage_safe_split: train/val/test split that CANNOT leak near-dups
# across splits. A plain per-doc hash split (doc_three_way_split) puts the
# two halves of a near-duplicate pair in different splits ~28% of the time —
# silent eval contamination. Here the split key is the doc's connected
# component over the MinHash candidate graph (singletons key on themselves),
# so every near-dup group lands in ONE split by construction. Output counts
# per split: docs, distinct groups, and non-root near-dup members — the
# oracle recomputes components with a recursive CTE and must agree exactly.
# Scale: components via the same min-label fixpoint as dedup_components;
# the split itself is a map-only hash of the group key.
def doc_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.functions.hashing import md5_hash64

    docs = load_table(spark, sf_dir, "documents")
    pairs = dd.minhash_lsh_candidates(
        docs, "doc_id", "text", num_hashes=_NUM_HASHES, bands=_BANDS, ngram_n=_NGRAM_N
    )
    comp = dd.connected_components(pairs)
    keyed = docs.join(comp, docs.doc_id == comp.id, "left").select(
        "doc_id", F.coalesce("component", F.col("doc_id")).alias("grp")
    )
    bucket = md5_hash64(F.col("grp"), salt="leak") % 10
    split = F.when(bucket < 8, "train").when(bucket < 9, "val").otherwise("test")
    return (
        keyed.select("doc_id", "grp", split.alias("split"))
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("grp").alias("n_groups"),
            F.sum((F.col("grp") != F.col("doc_id")).cast("long")).alias("n_nonroot_dups"),
        )
        .orderBy("split")
    )


def _leak_h64(expr: str, salt: str) -> str:
    return f"('0x' || substr(md5({salt} || ':' || CAST({expr} AS VARCHAR)), 1, 15))::BIGINT"


DOC_LEAKAGE_SPLIT_SQL = f"""
WITH RECURSIVE pairs AS ({MINHASH_LSH_SQL}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
walk (id, comp) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, w.comp FROM walk w JOIN edges e ON w.id = e.dst
),
comp AS (SELECT id, min(comp) AS component FROM walk GROUP BY id),
keyed AS (
  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS grp
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
),
lab AS (
  SELECT doc_id, grp,
         CASE WHEN {_leak_h64("grp", "'leak'")} % 10 < 8 THEN 'train'
              WHEN {_leak_h64("grp", "'leak'")} % 10 < 9 THEN 'val'
              ELSE 'test' END AS split
  FROM keyed
)
SELECT split, count(*) AS n_docs, count(DISTINCT grp) AS n_groups,
       CAST(sum(CASE WHEN grp <> doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_nonroot_dups
FROM lab GROUP BY split ORDER BY split
"""


# --------------------------------------------------------------------------
# dedup_semantic_clusters: SemDeDup (Abbas et al. 2023) — partition the
# embedding space with k-means FIRST, then look for semantic near-duplicates
# only WITHIN each cluster. This is the scale story for embedding dedup: the
# all-pairs join drops from O(n^2) to O(n^2/k) and each cluster's pair join
# is an equi-join on the learned cluster id (dedup_embedding_cosine blocks on
# a given label column; this learns the blocking from the data itself).
# The k-means fit is the cross-engine-reproducible variant (seeded-row init
# + one Lloyd update with means rounded to 9 decimals — see
# seeded_lloyd_centroids), so DuckDB rebuilds the identical clustering and
# the per-cluster membership and duplicate counts are value-gradeable.
# Output: per cluster — members, near-dup pairs (cosine >= 0.4), and docs
# dropped under keep-lowest-id survivorship.
_SEM_K = 8
_SEM_SALT = "semseed"
_SEM_THRESH = 0.4
_SEM_ROUND = 9


def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.caching import scoped_persist
    from bears_spark.skew import widen_input

    # three full passes consume the embedding column (seed scan + Lloyd
    # update inside the fit, final assignment below): persist the projection
    # once, widened so the heavy per-row argmax HOF parallelizes even off a
    # single-row-group file (guide §2.5)
    emb = scoped_persist(
        widen_input(load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding"))
    )
    cents = sim.seeded_lloyd_centroids(
        emb, "vec_id", "embedding", k=_SEM_K, salt=_SEM_SALT, iters=1, mean_round=_SEM_ROUND
    )
    # map-only assignment (expression argmax), then one BLAS gram matrix per
    # cluster for the O(m^2 d) pair flops — see semantic_cluster_stats.
    mem = emb.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
        sim.assign_centroids_expr("embedding", cents).alias("centroid_id"),
    )
    return dd.semantic_cluster_stats(
        mem, "vec_id", "v", "centroid_id", threshold=_SEM_THRESH
    ).orderBy("cid")


def _sem_cos(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(list_zip({a}, {b}), x -> x[1]::DOUBLE * x[2]::DOUBLE))"
        f" / (sqrt(list_sum(list_transform({a}, x -> x::DOUBLE * x::DOUBLE)))"
        f" * sqrt(list_sum(list_transform({b}, x -> x::DOUBLE * x::DOUBLE))))"
    )


# Shared CTE prefix: rebuild the seeded-Lloyd clustering (seeds -> init
# centroids -> assign -> rounded mean update -> reassign) ending in
# mem(vec_id, embedding, cid). Used by every semantic-cluster oracle.
_SEM_CTES = f"""seeds AS (
  SELECT embedding, vec_id,
         ('0x' || substr(md5('{_SEM_SALT}:' || CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT AS h
  FROM embeddings ORDER BY h, vec_id LIMIT {_SEM_K}
),
c0 AS (SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS cid, embedding AS c FROM seeds),
a1 AS (
  SELECT e.vec_id, e.embedding, c0.cid,
         row_number() OVER (
           PARTITION BY e.vec_id
           ORDER BY {_sem_cos("e.embedding", "c0.c")} DESC, c0.cid ASC
         ) AS rn
  FROM embeddings e CROSS JOIN c0
),
exploded AS (
  SELECT cid, generate_subscripts(embedding, 1) AS i, CAST(unnest(embedding) AS DOUBLE) AS x
  FROM a1 WHERE rn = 1
),
m AS (
  SELECT cid, list(mu ORDER BY i) AS c
  FROM (SELECT cid, i, round(avg(x), {_SEM_ROUND}) AS mu FROM exploded GROUP BY cid, i)
  GROUP BY cid
),
a2 AS (
  SELECT e.vec_id, e.embedding, m.cid,
         row_number() OVER (
           PARTITION BY e.vec_id
           ORDER BY {_sem_cos("e.embedding", "m.c")} DESC, m.cid ASC
         ) AS rn
  FROM embeddings e CROSS JOIN m
),
mem AS (SELECT vec_id, embedding, cid FROM a2 WHERE rn = 1)"""


DEDUP_SEMANTIC_SQL = f"""
WITH {_SEM_CTES},
pairs AS (
  SELECT a.cid, a.vec_id AS id_a, b.vec_id AS id_b
  FROM mem a JOIN mem b ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE {_sem_cos("a.embedding", "b.embedding")} >= {_SEM_THRESH}
),
dups AS (
  SELECT cid, count(*) AS n_dup_pairs, count(DISTINCT id_b) AS n_dropped
  FROM pairs GROUP BY cid
),
members AS (SELECT cid, count(*) AS n_members FROM mem GROUP BY cid)
SELECT members.cid AS cid, n_members,
       coalesce(n_dup_pairs, 0) AS n_dup_pairs,
       coalesce(n_dropped, 0) AS n_dropped
FROM members LEFT JOIN dups ON members.cid = dups.cid
ORDER BY cid
"""


# --------------------------------------------------------------------------
# emb_cluster_silhouette: clustering-quality report for the SemDeDup
# clustering — per cluster, the SIMPLIFIED silhouette (centroid-distance
# variant, Hruschka et al. 2004: a = cosine distance to own centroid, b = to
# second-nearest, s = (b-a)/max(a,b)). "Measure, don't guess" for the
# cluster structure every semantic-dedup decision rides on: a cluster whose
# silhouette ~0 is not separating its members, so its dedup pairs are
# blocking artifacts. Map-only expression over the scan (centroids are plan
# literals — O(n*k) total, vs sklearn's all-pairs O(n^2)), one bounded
# groupBy(cid).
def emb_cluster_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    cents = sim.seeded_lloyd_centroids(
        emb, "vec_id", "embedding", k=_SEM_K, salt=_SEM_SALT, iters=1, mean_round=_SEM_ROUND
    )
    scored = emb.select(
        sim.simplified_silhouette_expr("embedding", cents).alias("cs")
    ).select(F.col("cs.cid").alias("cid"), F.col("cs.sil").alias("sil"))
    return (
        scored.groupBy("cid")
        .agg(F.count("*").alias("n_members"), F.round(F.avg("sil"), 6).alias("avg_silhouette"))
        .orderBy("cid")
    )


EMB_SILHOUETTE_SQL = f"""
WITH {_SEM_CTES},
scored AS (
  SELECT e.vec_id, m.cid, {_sem_cos("e.embedding", "m.c")} AS cs,
         row_number() OVER (
           PARTITION BY e.vec_id
           ORDER BY {_sem_cos("e.embedding", "m.c")} DESC, m.cid ASC
         ) AS rn
  FROM embeddings e CROSS JOIN m
),
ab AS (
  SELECT s1.vec_id, s1.cid, 1 - s1.cs AS a, 1 - s2.cs AS b
  FROM scored s1 JOIN scored s2 ON s1.vec_id = s2.vec_id AND s2.rn = 2
  WHERE s1.rn = 1
)
SELECT cid, count(*) AS n_members,
       round(avg(CASE WHEN greatest(a, b) > 0 THEN (b - a) / greatest(a, b) ELSE 0 END), 6)
         AS avg_silhouette
FROM ab GROUP BY cid ORDER BY cid
"""

# --------------------------------------------------------------------------
# emb_hard_negatives: contrastive-training data mining — for each anchor
# vector, the most-similar vector with a DIFFERENT label (lang of the
# aligned document): the canonical hard-negative for embedding-model
# training (in-batch negatives are easy; the informative ones are the
# near-identical cross-label neighbors). Candidate generation is the
# SemDeDup cluster blocking (equi-join on the seeded-Lloyd cluster id, the
# same bound every production miner uses — never corpus-pairwise); per
# anchor the top negative is a WindowGroupLimit. Cosines round to 6 BEFORE
# the rank cut so the oracle can't disagree on boundary ties.
def emb_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from bears_spark.functions.vectors import cosine_similarity

    emb = load_table(spark, sf_dir, "embeddings")
    labels = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"), "lang"
    )
    cents = sim.seeded_lloyd_centroids(
        emb, "vec_id", "embedding", k=_SEM_K, salt=_SEM_SALT, iters=1, mean_round=_SEM_ROUND
    )
    mem = emb.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
        sim.assign_centroids_expr("embedding", cents).alias("cid"),
    ).join(labels, "vec_id")
    a, b = mem.alias("a"), mem.alias("b")
    scored = a.join(
        b, (F.col("a.cid") == F.col("b.cid")) & (F.col("a.lang") != F.col("b.lang"))
    ).select(
        F.col("a.vec_id").alias("anchor_id"),
        F.col("b.vec_id").alias("negative_id"),
        F.round(cosine_similarity(F.col("a.v"), F.col("b.v")), 6).alias("cosine"),
    )
    w = Window.partitionBy("anchor_id").orderBy(F.desc("cosine"), F.asc("negative_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
        .orderBy("anchor_id")
    )


EMB_HARD_NEG_SQL = f"""
WITH {_SEM_CTES},
lab AS (
  SELECT m.vec_id, m.embedding, m.cid, d.lang
  FROM mem m JOIN documents d ON m.vec_id = d.doc_id
),
scored AS (
  SELECT a.vec_id AS anchor_id, b.vec_id AS negative_id,
         round({_sem_cos("a.embedding", "b.embedding")}, 6) AS cosine,
         row_number() OVER (
           PARTITION BY a.vec_id
           ORDER BY round({_sem_cos("a.embedding", "b.embedding")}, 6) DESC, b.vec_id ASC
         ) AS rn
  FROM lab a JOIN lab b ON a.cid = b.cid AND a.lang <> b.lang
)
SELECT anchor_id, negative_id, cosine FROM scored WHERE rn = 1 ORDER BY anchor_id
"""

# (registered after the QUERIES/ORACLES dict literals below)


# --------------------------------------------------------------------------
# ann_lsh_topk: random-hyperplane LSH bucket search — candidates restricted
# to the query's sign-bucket. Hyperplanes are md5-seeded literals, so the
# oracle regenerates the identical planes and bucket arithmetic.
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    top = sim.lsh_topk(emb.filter(F.col("vec_id") != 0), "vec_id", "embedding", qvec, k=10, num_planes=4)
    return top.select("vec_id", F.round("cosine", 6).alias("cosine"))


def _lsh_sql(num_planes: int = 4, dim: int = 64) -> str:
    from bears_spark.functions.similarity import _hyperplane

    def plane_lit(p: list[float]) -> str:
        return "[" + ", ".join(repr(c) for c in p) + "]"

    planes = [_hyperplane(i, dim) for i in range(num_planes)]

    def bucket_expr(alias: str) -> str:
        terms = []
        for i, p in enumerate(planes):
            dot = f"list_sum(list_transform(list_zip({alias}.embedding, {plane_lit(p)}), x -> x[1]::DOUBLE * x[2]))"
            terms.append(f"(CASE WHEN {dot} > 0 THEN {1 << i} ELSE 0 END)")
        return " + ".join(terms)

    return f"""
WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
qb AS (SELECT {bucket_expr('q')} AS bucket FROM q),
cand AS (
  SELECT e.vec_id, e.embedding FROM embeddings e, qb
  WHERE e.vec_id <> 0 AND ({bucket_expr('e')}) = qb.bucket
)
SELECT e.vec_id AS vec_id,
       round({_QDOT} / ({_QNA} * {_QNB}), 6) AS cosine
FROM cand e, q
ORDER BY {_QDOT} / ({_QNA} * {_QNB}) DESC, e.vec_id ASC
LIMIT 10
"""


ANN_LSH_SQL = _lsh_sql()


# --------------------------------------------------------------------------
# emb_int8_codes: corpus-fit scalar quantization of embeddings — per-vector
# integer-exact code sum plus max reconstruction error. The codes are
# engine-exact (see vectors.py scalar-quantization note), so the oracle
# recomputes the whole codec independently; only the float error column
# needs round(...,6).
def emb_int8_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.functions.vectors import (
        fit_scalar_quantization,
        scalar_dequantize_expr,
        scalar_quantize_expr,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    mins, maxs = fit_scalar_quantization(emb, "embedding")
    coded = emb.select(
        "vec_id",
        F.col("embedding"),
        scalar_quantize_expr("embedding", mins, maxs).alias("codes"),
    ).withColumn("recon", scalar_dequantize_expr("codes", mins, maxs))
    err = F.zip_with("embedding", "recon", lambda x, r: F.abs(x.cast("double") - r))
    return coded.select(
        "vec_id",
        F.aggregate("codes", F.lit(0).cast("bigint"), lambda acc, c: acc + c).alias("code_sum"),
        F.round(F.array_max(err), 6).alias("max_abs_err"),
    ).orderBy("vec_id")


EMB_INT8_SQL = """
WITH e AS (
  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
         generate_subscripts(embedding, 1) AS i
  FROM embeddings
), s AS (
  SELECT i, min(x) AS lo, max(x) AS hi FROM e GROUP BY i
), c AS (
  SELECT vec_id, x, lo,
         LEAST(255, GREATEST(0, CAST(round(
           (x - lo) * (CASE WHEN hi > lo THEN 255.0 / (hi - lo) ELSE 0 END)
         ) AS INT))) AS code,
         CASE WHEN hi > lo THEN (hi - lo) / 255.0 ELSE 0 END AS step
  FROM e JOIN s USING (i)
)
SELECT vec_id, CAST(sum(code) AS BIGINT) AS code_sum,
       round(max(abs(x - (lo + code * step))), 6) AS max_abs_err
FROM c GROUP BY vec_id ORDER BY vec_id
"""


# --------------------------------------------------------------------------
# doc_chunks: RAG-style overlapping token chunking (32-token chunks, 8-token
# overlap). Map-only explode; oracle recomputes starts/slices with DuckDB
# list functions. chunk_id = start/step keeps ids order-free.
def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.functions.text import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs, "doc_id", "text", chunk_tokens=32, overlap=8).orderBy(
        "doc_id", "chunk_id"
    )


DOC_CHUNKS_SQL = f"""
WITH t AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
), n AS (
  SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0
), s AS (
  SELECT doc_id, toks, n,
         unnest(list_filter(range(0, n, 24), s -> s = 0 OR s + 8 < n)) AS start
  FROM n
)
SELECT doc_id,
       CAST(start // 24 AS INT) AS chunk_id,
       start AS chunk_start,
       LEAST(32, n - start) AS n_tokens,
       array_to_string(list_slice(toks, start + 1, start + 32), ' ') AS chunk_text
FROM s ORDER BY doc_id, chunk_id
"""


# --------------------------------------------------------------------------
# doc_chunk_dedup: passage-level boilerplate removal — corpus-wide exact
# chunk dedup (first occurrence by (doc_id, chunk_id) wins), reported as
# per-document survival stats. The oracle replays the same window over the
# chunk TEXT (Spark shuffles the xxhash64 of it; identical keep decisions).
def doc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    flagged = dd.chunk_exact_dedup(docs, "doc_id", "text", chunk_tokens=32, overlap=8)
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(F.col("is_first").cast("int")).alias("n_kept"),
            F.sum(F.when(F.col("is_first"), F.col("n_tokens")).otherwise(0)).alias("kept_tokens"),
        )
        .orderBy("doc_id")
    )


DOC_CHUNK_DEDUP_SQL = f"""
WITH t AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
), n AS (
  SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0
), s AS (
  SELECT doc_id, toks, n,
         unnest(list_filter(range(0, n, 24), s -> s = 0 OR s + 8 < n)) AS start
  FROM n
), c AS (
  SELECT doc_id,
         CAST(start // 24 AS INT) AS chunk_id,
         LEAST(32, n - start) AS n_tokens,
         array_to_string(list_slice(toks, start + 1, start + 32), ' ') AS chunk_text
  FROM s
), flagged AS (
  SELECT doc_id, n_tokens,
         row_number() OVER (PARTITION BY chunk_text ORDER BY doc_id, chunk_id) = 1 AS is_first
  FROM c
)
SELECT doc_id, count(*) AS n_chunks,
       CAST(sum(CASE WHEN is_first THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN is_first THEN n_tokens ELSE 0 END) AS BIGINT) AS kept_tokens
FROM flagged GROUP BY doc_id ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# rag_chunk_retrieval: the retrieval path end-to-end on one engine — chunk
# every document (doc_chunks semantics), embed each chunk with fit-free
# feature hashing (doc_hashed_features semantics), score by cosine against
# the query chunk's vector, return the top-10 passages. Integer count
# vectors make the cosine doubles bit-identical cross-engine (exact sums,
# one sqrt, one divide), and the (cosine, doc_id, chunk_id) order is total.
def rag_chunk_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.functions.text import chunk_documents, hashing_vectorize
    from bears_spark.functions.vectors import cosine_similarity

    docs = load_table(spark, sf_dir, "documents")
    chunks = chunk_documents(docs, "doc_id", "text", chunk_tokens=32, overlap=8)
    feats = hashing_vectorize(chunks, "chunk_text", out_col="features", dim=16)
    qvec = (
        feats.filter((F.col("doc_id") == 0) & (F.col("chunk_id") == 0))
        .select("features")
        .first()["features"]
    )
    qlit = double_lit([float(v) for v in qvec])
    scored = feats.filter(~((F.col("doc_id") == 0) & (F.col("chunk_id") == 0))).select(
        "doc_id",
        "chunk_id",
        cosine_similarity("features", qlit).alias("c"),
    )
    return (
        scored.orderBy(F.desc("c"), "doc_id", "chunk_id")
        .limit(10)
        .select("doc_id", "chunk_id", F.round("c", 6).alias("cosine"))
    )


_CHUNK_CTE = f"""
WITH t AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
), n AS (
  SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0
), s AS (
  SELECT doc_id, toks, n,
         unnest(list_filter(range(0, n, 24), s -> s = 0 OR s + 8 < n)) AS start
  FROM n
), c AS (
  SELECT doc_id,
         CAST(start // 24 AS INT) AS chunk_id,
         array_to_string(list_slice(toks, start + 1, start + 32), ' ') AS chunk_text
  FROM s
)"""

RAG_CHUNK_RETRIEVAL_SQL = (
    _CHUNK_CTE
    + """, cb AS (
  SELECT doc_id, chunk_id,
         list_transform(list_filter(regexp_split_to_array(trim(lower(chunk_text)), '\\s+'), x -> x <> ''),
                        t -> ('0x' || substr(md5('0:' || t), 1, 15))::BIGINT % 16) AS buckets
  FROM c
), v AS (
  SELECT doc_id, chunk_id,
         list_transform(range(0, 16), i -> CAST(len(list_filter(buckets, b -> b = i)) AS DOUBLE)) AS f
  FROM cb
), q AS (
  SELECT f AS qf FROM v WHERE doc_id = 0 AND chunk_id = 0
), scored AS (
  SELECT v.doc_id, v.chunk_id,
         list_sum(list_transform(list_zip(v.f, q.qf), x -> x[1] * x[2]))
         / (sqrt(list_sum(list_transform(v.f, x -> x * x)))
            * sqrt(list_sum(list_transform(q.qf, x -> x * x)))) AS c
  FROM v, q WHERE NOT (v.doc_id = 0 AND v.chunk_id = 0)
)
SELECT doc_id, chunk_id, round(c, 6) AS cosine
FROM scored ORDER BY c DESC, doc_id, chunk_id LIMIT 10
"""
)


# --------------------------------------------------------------------------
# doc_bm25_topk: Okapi BM25 top-10 for a 3-term query. The oracle rebuilds
# the full formula; both engines compute avgdl as sum/count explicitly
# (DuckDB's avg() uses an incremental mean whose double can differ in the
# last ulp) and round scores to 6.
_BM25_TERMS = ["table", "scan", "merge"]


def doc_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.functions.text import bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    out = bm25_topk(docs, "doc_id", "text", _BM25_TERMS, k=10)
    return out.select("doc_id", F.round("score", 6).alias("score"))


DOC_BM25_SQL = f"""
WITH dl AS (
  SELECT doc_id, len({_TOKS}) AS dl FROM documents
), stats AS (
  SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl
), toks AS (
  SELECT doc_id, unnest({_TOKS_LOWER}) AS term FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks
  WHERE term IN ('table', 'scan', 'merge') GROUP BY doc_id, term
), dfreq AS (
  SELECT term, count(*) AS df_t FROM tf GROUP BY term
), scored AS (
  SELECT tf.doc_id,
         sum(
           ln(1.0 + (CAST(n AS DOUBLE) - df_t + 0.5) / (df_t + 0.5))
           * (tf * 2.2) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
         ) AS score
  FROM tf JOIN dfreq USING (term) JOIN dl ON tf.doc_id = dl.doc_id, stats
  GROUP BY tf.doc_id
)
SELECT doc_id, round(score, 6) AS score
FROM scored ORDER BY score DESC, doc_id LIMIT 10
"""


# --------------------------------------------------------------------------
# doc_hybrid_retrieval: Reciprocal Rank Fusion of the lexical (BM25) and
# vector (hashed cosine vs doc 0) rankings — the standard hybrid-search
# combiner: score = sum over lists of 1/(60 + rank). Ranks are assigned
# over round(score, 6) with doc_id tiebreak so both engines agree on the
# ordering even where raw doubles differ in the last ulp; the fused score
# is a two-term sum of exact rationals — engine-identical.
def doc_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from bears_spark.functions.text import bm25_topk, hashing_vectorize
    from bears_spark.functions.vectors import cosine_similarity

    docs = load_table(spark, sf_dir, "documents")
    # cut the lexical top-20 on the ROUNDED score (k=None -> full list first):
    # the oracle's lex CTE rounds before its LIMIT, so a raw-double cut could
    # select a different set when docs tie at 6 decimals on the boundary
    lex = (
        bm25_topk(docs, "doc_id", "text", _BM25_TERMS, k=None)
        .select("doc_id", F.round("score", 6).alias("ls"))
        .orderBy(F.desc("ls"), "doc_id")
        .limit(20)
    )
    lex = lex.select(
        "doc_id", F.row_number().over(Window.orderBy(F.desc("ls"), "doc_id")).alias("lr")
    )
    feats = hashing_vectorize(docs, "text", out_col="features", dim=16)
    qvec = feats.filter(F.col("doc_id") == 0).select("features").first()["features"]
    qlit = double_lit([float(v) for v in qvec])
    dense = (
        feats.filter(F.col("doc_id") != 0)
        .select("doc_id", F.round(cosine_similarity("features", qlit), 6).alias("ds"))
        .orderBy(F.desc("ds"), "doc_id")
        .limit(20)
    )
    dense = dense.select(
        "doc_id", F.row_number().over(Window.orderBy(F.desc("ds"), "doc_id")).alias("dr")
    )
    fused = (
        lex.join(dense, "doc_id", "full_outer")
        .select(
            "doc_id",
            (
                F.coalesce(1.0 / (F.lit(60.0) + F.col("lr")), F.lit(0.0))
                + F.coalesce(1.0 / (F.lit(60.0) + F.col("dr")), F.lit(0.0))
            ).alias("rrf"),
        )
    )
    return (
        fused.orderBy(F.desc("rrf"), "doc_id")
        .limit(10)
        .select("doc_id", F.round("rrf", 6).alias("rrf"))
    )


DOC_HYBRID_SQL = f"""
WITH dl AS (
  SELECT doc_id, len({_TOKS}) AS dl FROM documents
), stats AS (
  SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl
), toks AS (
  SELECT doc_id, unnest({_TOKS_LOWER}) AS term FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks
  WHERE term IN ('table', 'scan', 'merge') GROUP BY doc_id, term
), dfreq AS (
  SELECT term, count(*) AS df_t FROM tf GROUP BY term
), bm AS (
  SELECT tf.doc_id,
         round(sum(
           ln(1.0 + (CAST(n AS DOUBLE) - df_t + 0.5) / (df_t + 0.5))
           * (tf * 2.2) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
         ), 6) AS ls
  FROM tf JOIN dfreq USING (term) JOIN dl ON tf.doc_id = dl.doc_id, stats
  GROUP BY tf.doc_id
), lex AS (
  SELECT doc_id, row_number() OVER (ORDER BY ls DESC, doc_id) AS lr
  FROM (SELECT * FROM bm ORDER BY ls DESC, doc_id LIMIT 20)
), cb AS (
  SELECT doc_id,
         list_transform({_TOKS_LOWER},
                        t -> ('0x' || substr(md5('0:' || t), 1, 15))::BIGINT % 16) AS buckets
  FROM documents
), v AS (
  SELECT doc_id,
         list_transform(range(0, 16), i -> CAST(len(list_filter(buckets, b -> b = i)) AS DOUBLE)) AS f
  FROM cb
), q AS (
  SELECT f AS qf FROM v WHERE doc_id = 0
), ds AS (
  SELECT v.doc_id,
         round(list_sum(list_transform(list_zip(v.f, q.qf), x -> x[1] * x[2]))
         / (sqrt(list_sum(list_transform(v.f, x -> x * x)))
            * sqrt(list_sum(list_transform(q.qf, x -> x * x)))), 6) AS ds
  FROM v, q WHERE v.doc_id != 0
), dense AS (
  SELECT doc_id, row_number() OVER (ORDER BY ds DESC, doc_id) AS dr
  FROM (SELECT * FROM ds ORDER BY ds DESC, doc_id LIMIT 20)
), fused AS (
  SELECT COALESCE(lex.doc_id, dense.doc_id) AS doc_id,
         COALESCE(1.0 / (60.0 + lr), 0.0) + COALESCE(1.0 / (60.0 + dr), 0.0) AS rrf
  FROM lex FULL OUTER JOIN dense ON lex.doc_id = dense.doc_id
)
SELECT doc_id, round(rrf, 6) AS rrf FROM fused ORDER BY rrf DESC, doc_id LIMIT 10
"""


# --------------------------------------------------------------------------
# streaming_doc_chunks: the SAME chunker run under readStream — map-only
# expressions are stream-transparent (stateless, no watermark, append mode),
# so ingest-time chunking needs zero code changes and the batch oracle
# (DOC_CHUNKS_SQL) grades the streaming output directly.
def streaming_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.functions.text import chunk_documents

    batch = load_table(spark, sf_dir, "documents")
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{sf_dir}/documents.parque*")
    )
    out = chunk_documents(stream, "doc_id", "text", chunk_tokens=32, overlap=8)
    sink = "streaming_doc_chunks_sink"
    q = (
        out.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    q.stop()
    return spark.table(sink).select("doc_id", "chunk_id", "chunk_start", "n_tokens", "chunk_text")


# --------------------------------------------------------------------------
# streaming_semantic_assign: the cluster-assignment stage of SemDeDup run
# under readStream — the fit is an offline artifact (seeded-Lloyd on the
# batch corpus, exactly how a 100 TB pipeline fits on yesterday's corpus and
# assigns today's ingest), and the assignment is the EXPRESSION-ONLY argmax
# (assign_centroids_expr: no join, no window), which is stream-transparent
# in append mode. Graded row-for-row against the batch DuckDB clustering.
def streaming_semantic_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    batch = load_table(spark, sf_dir, "embeddings")
    cents = sim.seeded_lloyd_centroids(
        batch, "vec_id", "embedding", k=_SEM_K, salt=_SEM_SALT, iters=1, mean_round=_SEM_ROUND
    )
    cid_col = sim.assign_centroids_expr("embedding", cents)
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{sf_dir}/embeddings.parque*")
    )
    out = stream.select("vec_id", cid_col.alias("cid"))
    sink = "streaming_semantic_assign_sink"
    q = (
        out.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    q.stop()
    return spark.table(sink).orderBy("vec_id")


STREAMING_SEM_ASSIGN_SQL = f"""
WITH {_SEM_CTES}
SELECT vec_id, cid FROM mem ORDER BY vec_id
"""


# --------------------------------------------------------------------------
# emb_cluster_coreset: diversity-aware subset selection — AFTER semantic
# clustering, take m representatives per cluster by salted-hash priority
# (cluster-stratified sampling: every region of embedding space keeps
# coverage, unlike a global random sample that follows density). Per-group
# top-k plans as WindowGroupLimit: partial top-m before the shuffle, so
# shuffled bytes are O(k*m), not O(n).
_CORESET_M = 5
_CORESET_SALT = "coreset"


def emb_cluster_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from bears_spark.functions.hashing import md5_hash64

    emb = load_table(spark, sf_dir, "embeddings")
    cents = sim.seeded_lloyd_centroids(
        emb, "vec_id", "embedding", k=_SEM_K, salt=_SEM_SALT, iters=1, mean_round=_SEM_ROUND
    )
    mem = emb.select("vec_id", sim.assign_centroids_expr("embedding", cents).alias("centroid_id"))
    pri = md5_hash64("vec_id", salt=_CORESET_SALT)
    w = Window.partitionBy("centroid_id").orderBy(pri, "vec_id")
    return (
        mem.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _CORESET_M)
        .select(F.col("centroid_id").alias("cid"), "vec_id", "rank")
        .orderBy("cid", "rank")
    )


EMB_CORESET_SQL = f"""
WITH {_SEM_CTES},
pri AS (
  SELECT cid, vec_id,
         row_number() OVER (
           PARTITION BY cid
           ORDER BY ('0x' || substr(md5('{_CORESET_SALT}:' || CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT,
                    vec_id
         ) AS rank
  FROM mem
)
SELECT cid, vec_id, rank FROM pri WHERE rank <= {_CORESET_M} ORDER BY cid, rank
"""


QUERIES = {
    "text_stats": text_stats,
    "emb_int8_codes": emb_int8_codes,
    "doc_chunks": doc_chunks,
    "doc_chunk_dedup": doc_chunk_dedup,
    "rag_chunk_retrieval": rag_chunk_retrieval,
    "doc_bm25_topk": doc_bm25_topk,
    "doc_hybrid_retrieval": doc_hybrid_retrieval,
    "streaming_doc_chunks": streaming_doc_chunks,
    "lang_id_confusion": lang_id_confusion,
    "doc_fingerprint": doc_fingerprint,
    "dedup_exact": dedup_exact,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_simhash": dedup_simhash,
    "dedup_embedding_cosine": dedup_embedding_cosine,
    "ann_cosine_topk": ann_cosine_topk,
    "ann_sq_topk": ann_sq_topk,
    "dedup_components": dedup_components,
    "dedup_semantic_clusters": dedup_semantic_clusters,
    "dedup_source_matrix": dedup_source_matrix,
    "corpus_dedup_funnel": corpus_dedup_funnel,
    "doc_leakage_safe_split": doc_leakage_safe_split,
    "streaming_semantic_assign": streaming_semantic_assign,
    "emb_cluster_coreset": emb_cluster_coreset,
    "ann_lsh_topk": ann_lsh_topk,
}

ORACLES = {
    "text_stats": TEXT_STATS_SQL,
    "emb_int8_codes": EMB_INT8_SQL,
    "doc_chunks": DOC_CHUNKS_SQL,
    "doc_chunk_dedup": DOC_CHUNK_DEDUP_SQL,
    "rag_chunk_retrieval": RAG_CHUNK_RETRIEVAL_SQL,
    "doc_bm25_topk": DOC_BM25_SQL,
    "doc_hybrid_retrieval": DOC_HYBRID_SQL,
    "streaming_doc_chunks": DOC_CHUNKS_SQL,
    "lang_id_confusion": LANG_ID_SQL,
    "doc_fingerprint": DOC_FINGERPRINT_SQL,
    "dedup_exact": DEDUP_EXACT_SQL,
    "dedup_ngram_jaccard": NGRAM_JACCARD_SQL,
    "dedup_minhash_lsh": MINHASH_LSH_SQL,
    "dedup_simhash": SIMHASH_SQL,
    "dedup_embedding_cosine": EMB_COSINE_SQL,
    "ann_cosine_topk": ANN_TOPK_SQL,
    "ann_sq_topk": ANN_SQ_SQL,
    "dedup_components": DEDUP_COMPONENTS_SQL,
    "dedup_semantic_clusters": DEDUP_SEMANTIC_SQL,
    "dedup_source_matrix": DEDUP_SOURCE_MATRIX_SQL,
    "corpus_dedup_funnel": CORPUS_DEDUP_FUNNEL_SQL,
    "doc_leakage_safe_split": DOC_LEAKAGE_SPLIT_SQL,
    "streaming_semantic_assign": STREAMING_SEM_ASSIGN_SQL,
    "emb_cluster_coreset": EMB_CORESET_SQL,
    "ann_lsh_topk": ANN_LSH_SQL,
}


# --------------------------------------------------------------------------
# doc_token_counts: whitespace vs BPE-ish pre-token counts per document —
# the LLM-corpus accounting pair; \p{L}/\p{N} regex classes match in Java
# regex and RE2, so both engines count identically.
def doc_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.functions.text import bpe_token_count

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count("text").alias("ws_tokens"),
        bpe_token_count("text").alias("bpe_tokens"),
    ).orderBy("doc_id")


DOC_TOKEN_COUNTS_SQL = r"""
SELECT doc_id,
       len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '')) AS ws_tokens,
       len(list_filter(regexp_extract_all(text, '''(?:[sdmt]|ll|ve|re)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+', 0),
                       m -> trim(m) <> '')) AS bpe_tokens
FROM documents ORDER BY doc_id
"""

QUERIES["doc_token_counts"] = doc_token_counts
ORACLES["doc_token_counts"] = DOC_TOKEN_COUNTS_SQL


# --------------------------------------------------------------------------
# emb_random_projection: signed ±1 Johnson-Lindenstrauss projection of the
# 64-d embeddings to 8 exact-integer components (floor-quantized micros;
# floor of an identical IEEE double is bit-deterministic cross-engine,
# round() is not). Oracle SQL is GENERATED from the same rp_signs matrix —
# the minhash-coefficient precedent.
def emb_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.functions.similarity import random_projection

    emb = load_table(spark, sf_dir, "embeddings")
    return random_projection(emb, "vec_id", "embedding", dim=64, out_dim=8, salt=3).orderBy("vec_id")


def _rp_sql() -> str:
    from bears_spark.functions.similarity import rp_signs

    comps = []
    for i, row in enumerate(rp_signs(64, 8, salt=3)):
        terms = "".join(
            ("+" if s > 0 else "-") + f" v[{j + 1}] " for j, s in enumerate(row)
        ).lstrip("+ ")
        comps.append(f"CAST({terms} AS BIGINT) AS p{i}")
    cols = ",\n       ".join(comps)
    return f"""
WITH q AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS v
  FROM embeddings
)
SELECT vec_id, {cols}
FROM q ORDER BY vec_id
"""


EMB_RP_SQL = _rp_sql()

QUERIES["emb_random_projection"] = emb_random_projection
ORACLES["emb_random_projection"] = EMB_RP_SQL


# --------------------------------------------------------------------------
# dedup_verified_pairs: the full two-stage dedup ladder under the gate —
# MinHash-LSH candidate generation followed by the exact Levenshtein
# verify stage (sketches to cut the corpus to candidates, exact distance
# only on candidates). Oracle composes the generated MinHash SQL as a CTE
# with DuckDB's levenshtein (identical integer semantics to Spark's).
_VERIFY_MAX_DIST = 40


def dedup_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    cands = dd.minhash_lsh_candidates(
        docs, "doc_id", "text", num_hashes=_NUM_HASHES, bands=_BANDS, ngram_n=_NGRAM_N
    )
    return dd.levenshtein_verify(cands, docs, "doc_id", "text", max_distance=_VERIFY_MAX_DIST).orderBy(
        "id_a", "id_b"
    )


def _verified_pairs_sql() -> str:
    cand_body = MINHASH_LSH_SQL.rsplit("ORDER BY", 1)[0]
    return f"""
WITH cand AS (
{cand_body}
)
SELECT c.id_a, c.id_b, levenshtein(a.text, b.text) AS edit_dist
FROM cand c
JOIN documents a ON a.doc_id = c.id_a
JOIN documents b ON b.doc_id = c.id_b
WHERE levenshtein(a.text, b.text) <= {_VERIFY_MAX_DIST}
ORDER BY c.id_a, c.id_b
"""


DEDUP_VERIFIED_SQL = _verified_pairs_sql()

QUERIES["dedup_verified_pairs"] = dedup_verified_pairs
ORACLES["dedup_verified_pairs"] = DEDUP_VERIFIED_SQL


# --------------------------------------------------------------------------
# doc_winnow_fingerprints: winnowing (MOSS) local fingerprints — windowed
# minima over md5 shingle hashes, exploded to (doc, fingerprint) rows.
# Every doc in the test corpus exceeds k + window - 1 chars, so the oracle
# skips the short-doc fallback branch the function carries.
def doc_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.functions.text import winnow_fingerprints

    docs = load_table(spark, sf_dir, "documents")
    wf = winnow_fingerprints(docs, "text", "doc_id", k=5, window=4)
    return wf.select("doc_id", F.explode("fingerprints").alias("fp")).orderBy("doc_id", "fp")


DOC_WINNOW_SQL = f"""
WITH norm AS (
  SELECT doc_id, {_NORM} AS s FROM documents
), sh AS (
  SELECT doc_id,
         list_transform(range(1, length(s) - 3), i -> substr(s, i, 5)) AS shingles
  FROM norm WHERE length(s) >= 8
), h_t AS (
  SELECT doc_id, list_transform(shingles, x -> {_hex2int("'0:' || x")}) AS h FROM sh
), mins AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(h) - 2), i -> least(h[i], h[i+1], h[i+2], h[i+3]))) AS fps
  FROM h_t
)
SELECT doc_id, unnest(fps) AS fp FROM mins ORDER BY doc_id, fp
"""

QUERIES["doc_winnow_fingerprints"] = doc_winnow_fingerprints
ORACLES["doc_winnow_fingerprints"] = DOC_WINNOW_SQL


# --- Unicode NFC normalization (corpus hygiene before fingerprint/dedup) ---
# The synthetic corpus is pure ASCII (NFC would be the identity), so the query
# appends a decomposed-accent suffix (e + U+0301, i + U+0308, A + U+030A) to
# every document; composing them shrinks the char count by exactly 3 and the
# hashed tail verifies the composed output bytes, not just lengths.
_NFC_SUFFIX = " café naïve Å"


def doc_nfc_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.functions.text import unicode_normalize

    docs = load_table(spark, sf_dir, "documents")
    aug = F.concat(F.col("text"), F.lit(_NFC_SUFFIX))
    nfc = unicode_normalize(aug, "NFC")
    return (
        docs.select(
            "doc_id",
            F.length(aug).alias("n_chars_raw"),
            F.length(nfc).alias("n_chars_nfc"),
            F.substring(nfc, -13, 13).alias("norm_tail"),
        )
        .orderBy("doc_id")
    )


DOC_NFC_SQL = """
WITH aug AS (
  SELECT doc_id,
         text || ' cafe' || chr(769) || ' nai' || chr(776) || 've A' || chr(778) AS s
  FROM documents
)
SELECT doc_id,
       length(s) AS n_chars_raw,
       length(nfc_normalize(s)) AS n_chars_nfc,
       substr(nfc_normalize(s), -13, 13) AS norm_tail
FROM aug ORDER BY doc_id
"""

QUERIES["doc_nfc_normalize"] = doc_nfc_normalize
ORACLES["doc_nfc_normalize"] = DOC_NFC_SQL


# --------------------------------------------------------------------------
# dedup_incremental: two-cycle ingest — the first half of the corpus (by
# doc_id) is already in the fingerprint store; grade the SURVIVORS of
# ingesting the second half (absent from history, first of their fingerprint
# within the batch). Exercises functions/dedup.incremental_dedup end-to-end.
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    mid = docs.agg(F.expr("percentile(doc_id, 0.5)")).first()[0]
    hist = docs.filter(F.col("doc_id") <= mid)
    batch = docs.filter(F.col("doc_id") > mid)
    _, store = dd.incremental_dedup(hist, None, "text", "doc_id")
    survivors, _ = dd.incremental_dedup(batch, store, "text", "doc_id")
    return survivors.select("doc_id").orderBy("doc_id")


DEDUP_INCREMENTAL_SQL = f"""
WITH fp AS (
  SELECT doc_id, {_hex2int(_NORM)} AS f FROM documents
), mid AS (
  SELECT quantile_cont(doc_id, 0.5) AS m FROM fp
), hist AS (
  SELECT DISTINCT f FROM fp, mid WHERE doc_id <= m
), batch AS (
  SELECT doc_id, f FROM fp, mid WHERE doc_id > m
)
SELECT min(doc_id) AS doc_id FROM batch ANTI JOIN hist USING (f)
GROUP BY f ORDER BY doc_id
"""

QUERIES["dedup_incremental"] = dedup_incremental
ORACLES["dedup_incremental"] = DEDUP_INCREMENTAL_SQL


# --------------------------------------------------------------------------
# doc_hashed_features: fit-free feature hashing (HashingVectorizer) — token
# counts folded into 16 buckets by the cross-engine md5 hash; the scale
# alternative to TFIDF (no vocabulary pass, map-only).
def doc_hashed_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.functions.text import hashing_vectorize

    docs = load_table(spark, sf_dir, "documents")
    out = hashing_vectorize(docs, "text", out_col="features", dim=16)
    # arrays grade via integer-exact scalar projections (repo pattern:
    # assembled_features): total, max, and an index-weighted checksum pin
    # the whole vector without array-typed hash-compare
    idx_weighted = F.aggregate(
        F.zip_with(F.col("features"), F.sequence(F.lit(0), F.lit(15)), lambda v, i: v * i.cast("double")),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    return out.select(
        "doc_id",
        F.aggregate("features", F.lit(0.0), lambda a, x: a + x).cast("bigint").alias("n_tokens"),
        F.array_max("features").cast("bigint").alias("max_bucket"),
        idx_weighted.cast("bigint").alias("checksum"),
    ).orderBy("doc_id")


DOC_HASHED_FEATURES_SQL = f"""
WITH toks AS (
  SELECT doc_id, list_transform({_TOKS.replace("trim(text)", "trim(lower(text))")},
                                t -> ('0x' || substr(md5('0:' || t), 1, 15))::BIGINT % 16) AS buckets
  FROM documents
), v AS (
  SELECT doc_id,
         list_transform(range(0, 16), i -> CAST(len(list_filter(buckets, b -> b = i)) AS DOUBLE)) AS features
  FROM toks
)
SELECT doc_id,
       CAST(list_sum(features) AS BIGINT) AS n_tokens,
       CAST(list_max(features) AS BIGINT) AS max_bucket,
       CAST(list_sum(list_transform(range(0, 16), i -> features[i+1] * i)) AS BIGINT) AS checksum
FROM v ORDER BY doc_id
"""

QUERIES["doc_hashed_features"] = doc_hashed_features
ORACLES["doc_hashed_features"] = DOC_HASHED_FEATURES_SQL


# --------------------------------------------------------------------------
# doc_inverted_index: search-index build — term -> (document frequency,
# sorted posting list). explode + one groupBy with collect_list; postings
# sorted in-expression so the array is deterministic. At corpus scale the
# posting list of a stop-term is the classic skew risk: cap/segment hot
# terms upstream with the same df-cap machinery as the dedup blocking.
def doc_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .where(F.col("term") != "")
        .distinct()
    )
    return words.groupBy("term").agg(
        F.count("*").alias("df"),
        F.array_join(F.transform(F.sort_array(F.collect_list("doc_id")), lambda d: d.cast("string")), ",").alias("postings"),
    )


DOC_INVERTED_INDEX_SQL = """
WITH words AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
)
SELECT term, count(*) AS df, list_aggregate(list_sort(list(doc_id)), 'string_agg', ',') AS postings
FROM words WHERE term <> '' GROUP BY term
"""

QUERIES["doc_inverted_index"] = doc_inverted_index
ORACLES["doc_inverted_index"] = DOC_INVERTED_INDEX_SQL


# --------------------------------------------------------------------------
# doc_bpe_tokens: BPE train + apply (functions/bpe.py) graded through the
# saturation property: with merges >= total type chars (138 + 31 EOW marks
# here; 200 used), every word type collapses to a single token, so the
# token count must equal the whitespace word count — which IS
# SQL-computable. This grades the full train->broadcast->apply pipeline
# end-to-end (losslessness + word alignment); merge ORDER correctness is
# pinned by hand-checked merges in tests/test_bpe.py.
def doc_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.functions.bpe import bpe_apply, bpe_train

    docs = load_table(spark, sf_dir, "documents")
    merges = bpe_train(docs, num_merges=200)
    return bpe_apply(docs, merges).select("doc_id", "n_words", "n_tokens")


DOC_BPE_SQL = """
SELECT doc_id,
       length(list_filter(string_split(text, ' '), x -> x <> '')) AS n_words,
       length(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tokens
FROM documents
"""

QUERIES["doc_bpe_tokens"] = doc_bpe_tokens
ORACLES["doc_bpe_tokens"] = DOC_BPE_SQL


# --------------------------------------------------------------------------
# dedup_containment: asymmetric containment near-dup pass over documents —
# synthetic containment case built by pairing each doc with its own prefix
# (the "short doc quoted inside a long one" shape Jaccard misses). Top-25
# pairs by containment for a bounded graded output.
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # add prefix-halves as synthetic contained docs (id + 1_000_000)
    halves = docs.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.substring("text", 1, 80).alias("text"),
    ).where(F.length("text") >= 60)
    corpus = docs.unionByName(halves)
    pairs = dd.ngram_containment_pairs(corpus, "doc_id", "text", n=3, threshold=0.9)
    return (
        pairs.select(
            "id_a", "id_b",
            F.round("containment_ab", 6).alias("c_ab"),
            F.round("containment_ba", 6).alias("c_ba"),
        )
        .orderBy(F.desc(F.greatest("c_ab", "c_ba")), "id_a", "id_b")
        .limit(25)
    )


DEDUP_CONTAINMENT_SQL = r"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, substr(text, 1, 80) FROM documents WHERE length(substr(text, 1, 80)) >= 60
), toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws FROM corpus
), grams AS (
  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS gram
  FROM toks CROSS JOIN range(1, 10000) t(i)
  WHERE i + 2 <= length(ws)
), sizes AS (
  SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY 1
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(CAST(inter AS DOUBLE) / sa.n_grams, 6) AS c_ab,
       round(CAST(inter AS DOUBLE) / sb.n_grams, 6) AS c_ba
FROM pairs JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
WHERE greatest(CAST(inter AS DOUBLE) / sa.n_grams, CAST(inter AS DOUBLE) / sb.n_grams) >= 0.9
ORDER BY greatest(round(CAST(inter AS DOUBLE) / sa.n_grams, 6), round(CAST(inter AS DOUBLE) / sb.n_grams, 6)) DESC, id_a, id_b
LIMIT 25
"""

QUERIES["dedup_containment"] = dedup_containment
ORACLES["dedup_containment"] = DEDUP_CONTAINMENT_SQL


# --------------------------------------------------------------------------
# source_characteristic_terms: c-TF-IDF-style corpus exploration — for each
# source, the 3 terms most over-represented vs the corpus, scored by
# smoothed log-odds ln((tf_s + 1)/(tf_corpus + 1)) normalized by source
# size; ties break lexicographically. One term-frequency aggregation per
# level + a broadcast join of the (bounded) corpus term table.
def source_characteristic_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    words = docs.select("source", F.explode(F.split("text", " ")).alias("w")).where(F.col("w") != "")
    per_src = words.groupBy("source", "w").agg(F.count("*").alias("tf"))
    corpus = words.groupBy("w").agg(F.count("*").alias("ctf"))
    src_tot = per_src.groupBy("source").agg(F.sum("tf").alias("st"))
    scored = (
        per_src.join(F.broadcast(corpus), "w")
        .join(F.broadcast(src_tot), "source")
        .withColumn(
            "score",
            F.log((F.col("tf") + 1).cast("double") / (F.col("ctf") + 1)) - F.log(F.col("st").cast("double")),
        )
    )
    w = Window.partitionBy("source").orderBy(F.desc("score"), "w")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("source", "rk", "w", F.round("score", 6).alias("score"))
    )


SOURCE_TERMS_SQL = """
WITH words AS (
  SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
), w2 AS (SELECT source, w FROM words WHERE w <> ''),
per_src AS (SELECT source, w, count(*) AS tf FROM w2 GROUP BY 1, 2),
corpus AS (SELECT w, count(*) AS ctf FROM w2 GROUP BY 1),
stot AS (SELECT source, sum(tf) AS st FROM per_src GROUP BY 1),
scored AS (
  SELECT p.source, p.w,
         ln(CAST(p.tf + 1 AS DOUBLE) / (c.ctf + 1)) - ln(CAST(s.st AS DOUBLE)) AS score
  FROM per_src p JOIN corpus c USING (w) JOIN stot s USING (source)
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY source ORDER BY score DESC, w) AS rk FROM scored
)
SELECT source, rk, w, round(score, 6) AS score FROM ranked WHERE rk <= 3
"""

QUERIES["source_characteristic_terms"] = source_characteristic_terms
ORACLES["source_characteristic_terms"] = SOURCE_TERMS_SQL


# --------------------------------------------------------------------------
# dedup_representatives: the dedup ladder's final act — collapse each
# duplicate CLUSTER (connected components over MinHash candidates) to one
# representative, chosen by quality (longest text, doc_id tie-break), and
# report per-cluster membership. Composition of connected_components +
# max_by; the "which docs survive dedup" answer a corpus build actually
# ships. Oracle extends the recursive-CTE closure with arg_max.
def dedup_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = dd.minhash_lsh_candidates(
        docs, "doc_id", "text", num_hashes=_NUM_HASHES, bands=_BANDS, ngram_n=_NGRAM_N
    )
    comp = dd.connected_components(pairs).withColumnRenamed("component", "comp")
    member = comp.join(docs, comp.id == docs.doc_id).select("comp", "doc_id", F.length("text").alias("len"))
    return member.groupBy("comp").agg(
        F.count("*").alias("n_members"),
        # longest doc wins; ties to the SMALLEST doc_id — scalar composite
        # key because DuckDB's arg_max takes no struct ordering
        F.expr("max_by(doc_id, len * 1000000 - doc_id)").alias("rep_id"),
        F.max("len").alias("rep_len"),
    )


DEDUP_REPRESENTATIVES_SQL = f"""
WITH RECURSIVE pairs AS ({MINHASH_LSH_SQL}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
walk (id, comp) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, w.comp FROM walk w JOIN edges e ON w.id = e.dst
),
comp AS (
  SELECT id, min(comp) AS comp FROM walk GROUP BY id
),
member AS (
  SELECT c.comp, d.doc_id, length(d.text) AS len
  FROM comp c JOIN documents d ON c.id = d.doc_id
)
SELECT comp, count(*) AS n_members,
       arg_max(doc_id, len * 1000000 - doc_id) AS rep_id,
       max(len) AS rep_len
FROM member GROUP BY comp
"""

QUERIES["dedup_representatives"] = dedup_representatives
ORACLES["dedup_representatives"] = DEDUP_REPRESENTATIVES_SQL


# --------------------------------------------------------------------------
# dedup_sorted_neighbors: sorted-neighborhood (merge/purge) blocking — sort by
# a normalized key inside coarse blocks, compare each doc to its next W
# neighbors only, verify with token-set Jaccard.
_SNM_W, _SNM_THRESHOLD, _SNM_BLOCK, _SNM_KEY = 4, 0.8, 2, 40


def dedup_sorted_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = dd.sorted_neighborhood_pairs(
        docs, "doc_id", "text", window=_SNM_W, threshold=_SNM_THRESHOLD,
        block_chars=_SNM_BLOCK, key_chars=_SNM_KEY,
    )
    return pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard")).orderBy("id_a", "id_b")


def _snm_sql() -> str:
    norm = r"regexp_replace(lower(trim(text)), '\s+', ' ', 'g')"
    branches = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, toks, lead(doc_id, {i}) OVER w{i} AS nid, lead(toks, {i}) OVER w{i} AS ntoks"
        f" FROM base WINDOW w{i} AS (PARTITION BY blk ORDER BY skey, doc_id)"
        for i in range(1, _SNM_W + 1)
    )
    return f"""
WITH base AS (
  SELECT doc_id,
         substr({norm}, 1, {_SNM_BLOCK}) AS blk,
         substr({norm}, 1, {_SNM_KEY}) AS skey,
         list_distinct({_TOKS}) AS toks
  FROM documents
), led AS (
{branches}
), pairs AS (
  SELECT least(doc_id, nid) AS id_a, greatest(doc_id, nid) AS id_b,
         len(list_intersect(toks, ntoks))::DOUBLE
           / (len(toks) + len(ntoks) - len(list_intersect(toks, ntoks))) AS jaccard
  FROM led WHERE nid IS NOT NULL
)
SELECT id_a, id_b, round(jaccard, 6) AS jaccard
FROM pairs WHERE jaccard >= {_SNM_THRESHOLD} ORDER BY id_a, id_b
"""


SNM_SQL = _snm_sql()

QUERIES["dedup_sorted_neighbors"] = dedup_sorted_neighbors
ORACLES["dedup_sorted_neighbors"] = SNM_SQL


# --------------------------------------------------------------------------
# tfidf_cosine_pairs: all-pairs sparse TF-IDF cosine over word trigrams —
# the weighted counterpart of dedup_ngram_jaccard (shared phrases weighted by
# rarity), same df-cap blocking discipline, self equi-join on the term key.
_TC_N, _TC_THRESHOLD, _TC_MAXDF = 3, 0.5, 100


def tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = sim.tfidf_cosine_pairs(
        docs, "doc_id", "text", ngram_n=_TC_N, threshold=_TC_THRESHOLD, max_doc_freq=_TC_MAXDF
    )
    return pairs.orderBy("id_a", "id_b")


TFIDF_COSINE_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS t FROM documents
), g AS (
  SELECT doc_id,
         list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS grams
  FROM toks WHERE len(t) >= {_TC_N}
), tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM (SELECT doc_id, unnest(grams) AS term FROM g) GROUP BY 1, 2
), dfreq AS (
  SELECT term, count(*) AS df FROM tf GROUP BY 1
), nd AS (
  SELECT count(*) AS n FROM documents
), wgt AS (
  SELECT tf.doc_id, tf.term, tf.tf * ln(n / df) AS wt
  FROM tf JOIN dfreq USING (term), nd
  WHERE df <= {_TC_MAXDF}
), nrm AS (
  SELECT doc_id, sqrt(sum(wt * wt)) AS nrm FROM wgt GROUP BY 1 HAVING sqrt(sum(wt * wt)) > 0
), dots AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, sum(a.wt * b.wt) AS dot
  FROM wgt a JOIN wgt b ON a.term = b.term AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, round(dot / (na.nrm * nb.nrm), 6) AS cosine
FROM dots JOIN nrm na ON id_a = na.doc_id JOIN nrm nb ON id_b = nb.doc_id
WHERE round(dot / (na.nrm * nb.nrm), 6) >= {_TC_THRESHOLD}
ORDER BY id_a, id_b
"""

QUERIES["tfidf_cosine_pairs"] = tfidf_cosine_pairs
ORACLES["tfidf_cosine_pairs"] = TFIDF_COSINE_SQL


# --------------------------------------------------------------------------
# lsh_recall_report: measure, don't guess — candidate recall of the banded
# MinHash LSH against exact n-gram-Jaccard ground truth (same shingling and
# df cap), as one summary row. The join of two pair sets is a left-semi on
# (id_a, id_b); the three counts are 1-row aggregates combined by scalar
# crossJoins (audit-exempt 1-row BNLJ pattern).
def lsh_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    truth = dd.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.5, max_doc_freq=100,
        prune_unique_grams=True,
    ).select("id_a", "id_b")
    cand = dd.minhash_lsh_candidates(
        docs, "doc_id", "text", num_hashes=_NUM_HASHES, bands=_BANDS, ngram_n=_NGRAM_N
    ).select("id_a", "id_b")
    hit = truth.join(cand, ["id_a", "id_b"], "left_semi")
    t = truth.agg(F.count("*").alias("n_true"))
    c = cand.agg(F.count("*").alias("n_candidates"))
    h = hit.agg(F.count("*").alias("n_hit"))
    return (
        t.crossJoin(c)
        .crossJoin(h)
        # empty ground truth -> no defined recall (null), not an ANSI
        # divide-by-zero error
        .withColumn("recall", F.when(F.col("n_true") > 0, F.round(F.col("n_hit") / F.col("n_true"), 6)))
    )


LSH_RECALL_SQL = f"""
WITH truth AS (
  SELECT id_a, id_b FROM ({NGRAM_JACCARD_SQL}) tq
), cand AS (
  SELECT id_a, id_b FROM ({MINHASH_LSH_SQL}) cq
), hit AS (
  SELECT t.id_a, t.id_b FROM truth t
  WHERE EXISTS (SELECT 1 FROM cand c WHERE c.id_a = t.id_a AND c.id_b = t.id_b)
)
SELECT (SELECT count(*) FROM truth) AS n_true,
       (SELECT count(*) FROM cand) AS n_candidates,
       (SELECT count(*) FROM hit) AS n_hit,
       round((SELECT count(*) FROM hit)::DOUBLE / (SELECT count(*) FROM truth), 6) AS recall
"""

QUERIES["lsh_recall_report"] = lsh_recall_report
ORACLES["lsh_recall_report"] = LSH_RECALL_SQL


# --------------------------------------------------------------------------
# dedup_surviving_corpus: the END-TO-END dedup pipeline output — MinHash LSH
# candidates -> connected components -> representative per cluster -> the
# surviving document set (non-clustered docs + one representative per
# cluster). This is the query a user actually ships: "give me the deduped
# corpus". One left-anti join against the loser set; all upstream stages are
# the audited bucketed equi-joins.
def dedup_surviving_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = dd.minhash_lsh_candidates(
        docs, "doc_id", "text", num_hashes=_NUM_HASHES, bands=_BANDS, ngram_n=_NGRAM_N
    )
    comp = dd.connected_components(pairs).withColumnRenamed("component", "comp")
    member = comp.join(docs, comp.id == docs.doc_id).select("comp", "doc_id", F.length("text").alias("len"))
    reps = member.groupBy("comp").agg(F.expr("max_by(doc_id, len * 1000000 - doc_id)").alias("rep_id"))
    losers = (
        member.join(reps, "comp").where(F.col("doc_id") != F.col("rep_id")).select("doc_id")
    )
    return (
        docs.join(losers, "doc_id", "left_anti")
        .select("doc_id", "source", "lang")
        .orderBy("doc_id")
    )


DEDUP_SURVIVING_SQL = f"""
WITH RECURSIVE pairs AS ({MINHASH_LSH_SQL}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
walk (id, comp) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, w.comp FROM walk w JOIN edges e ON w.id = e.dst
),
comp AS (
  SELECT id, min(comp) AS comp FROM walk GROUP BY id
),
member AS (
  SELECT c.comp, d.doc_id, length(d.text) AS len
  FROM comp c JOIN documents d ON c.id = d.doc_id
),
rep AS (
  SELECT comp, arg_max(doc_id, len * 1000000 - doc_id) AS rep_id FROM member GROUP BY comp
),
losers AS (
  SELECT m.doc_id FROM member m JOIN rep r ON m.comp = r.comp WHERE m.doc_id <> r.rep_id
)
SELECT d.doc_id, d.source, d.lang
FROM documents d ANTI JOIN losers l USING (doc_id)
ORDER BY doc_id
"""

QUERIES["dedup_surviving_corpus"] = dedup_surviving_corpus
ORACLES["dedup_surviving_corpus"] = DEDUP_SURVIVING_SQL


# --------------------------------------------------------------------------
# doc_shared_passages: cross-document repeated-passage detection — document
# pairs sharing >= K winnowing fingerprints (each shared fingerprint
# witnesses a shared character run of length >= k + window - 1, so K of
# them indicate substantial copied passages, not chance shingle overlap).
# Same blocking discipline as the dedup ladder: hot fingerprints df-capped
# via broadcast anti-join, candidates from the fp equi-join.
_SP_MIN_SHARED, _SP_MAX_DF = 40, 100


def doc_shared_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.functions.text import winnow_fingerprints

    docs = load_table(spark, sf_dir, "documents")
    wf = winnow_fingerprints(docs, "text", "doc_id", k=5, window=4)
    fps = wf.select("doc_id", F.explode("fingerprints").alias("fp"))
    hot = fps.groupBy("fp").agg(F.count("*").alias("d")).filter(F.col("d") > _SP_MAX_DF).select("fp")
    from bears_spark.caching import scoped_persist

    fps = scoped_persist(fps.join(F.broadcast(hot), "fp", "left_anti"))
    a, b = fps.alias("a"), fps.alias("b")
    return (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= _SP_MIN_SHARED)
        .orderBy("id_a", "id_b")
    )


DOC_SHARED_PASSAGES_SQL = f"""
WITH fps0 AS (
  SELECT doc_id, fp FROM ({DOC_WINNOW_SQL}) w
), hot AS (
  SELECT fp FROM fps0 GROUP BY fp HAVING count(*) > {_SP_MAX_DF}
), fps AS (
  SELECT f.* FROM fps0 f ANTI JOIN hot USING (fp)
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING count(*) >= {_SP_MIN_SHARED}
ORDER BY id_a, id_b
"""

QUERIES["doc_shared_passages"] = doc_shared_passages
ORACLES["doc_shared_passages"] = DOC_SHARED_PASSAGES_SQL


# --------------------------------------------------------------------------
# doc_bm25_queryset: batch BM25 over a query TABLE (r4 VERDICT #5) — one
# corpus pass scores all eval queries, per-query top-5 via a ranking window
# Spark plans as WindowGroupLimit (asserted by tools/explain_audit.py).
# Both engines rank on round(score, 6) with doc_id tiebreak so last-ulp
# double drift can't flip the rank-5 boundary.
_QSET = [
    (0, ["table", "scan"]),
    (1, ["merge", "stream", "join"]),
    (2, ["index", "parquet", "vector"]),
]
_QSET_K = 5


def doc_bm25_queryset(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.functions.text import bm25_topk_queries

    docs = load_table(spark, sf_dir, "documents")
    # the query set goes in as the driver-local list: bm25_topk_queries
    # collects it into plan literals either way, and a DataFrame round-trip
    # here cost one 32-slice Python-worker collect per run (~10 s of
    # executor wall for 3 rows under load — guide §4/§5)
    return bm25_topk_queries(
        docs, "doc_id", "text", _QSET, k=_QSET_K, score_round=6
    ).orderBy("query_id", "rank")


def _qset_sql() -> str:
    qrows = ", ".join(
        f"({qid}, '{t}')" for qid, terms in _QSET for t in terms
    )
    all_terms = ", ".join(sorted({f"'{t}'" for _, terms in _QSET for t in terms}))
    return f"""
WITH qterms(query_id, term) AS (VALUES {qrows}),
dl AS (
  SELECT doc_id, len({_TOKS}) AS dl FROM documents
), stats AS (
  SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl
), toks AS (
  SELECT doc_id, unnest({_TOKS_LOWER}) AS term FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks
  WHERE term IN ({all_terms}) GROUP BY doc_id, term
), dfreq AS (
  SELECT term, count(*) AS df_t FROM tf GROUP BY term
), scored AS (
  SELECT q.query_id, tf.doc_id,
         round(sum(
           ln(1.0 + (CAST(n AS DOUBLE) - df_t + 0.5) / (df_t + 0.5))
           * (tf * 2.2) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
         ), 6) AS score
  FROM tf
  JOIN dfreq USING (term)
  JOIN qterms q USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id, stats
  GROUP BY q.query_id, tf.doc_id
), ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
  FROM scored
)
SELECT query_id, doc_id, score, rank FROM ranked
WHERE rank <= {_QSET_K} ORDER BY query_id, rank
"""


DOC_BM25_QUERYSET_SQL = _qset_sql()

QUERIES["doc_bm25_queryset"] = doc_bm25_queryset
ORACLES["doc_bm25_queryset"] = DOC_BM25_QUERYSET_SQL


# --------------------------------------------------------------------------
# ann_ivfpq_topk: the composed IVF+PQ ANN rung (r4 VERDICT #6) — coarse
# probe of nprobe centroid buckets, ADC rank within them over PQ codes.
# Both quantizers are SEEDED-ROW fits (the kc/kpq corpus rows with the
# smallest salted md5 of vec_id serve as centroids / per-subspace
# codewords) — deterministic on any engine, so DuckDB rebuilds the exact
# same index from the same rule and the composition is value-gradeable,
# unlike a KMeans fit. Every cosine/distance sums left-to-right in both
# engines; ADC distances round to 6 before the rank cut.
_IVFPQ_KC = 8  # coarse centroids
_IVFPQ_KPQ = 16  # codewords per subspace
_IVFPQ_M = 8  # subspaces (64-dim -> 8 dims each)
_IVFPQ_NPROBE = 3
_IVFPQ_CSALT = "ivfseed"
_IVFPQ_PSALT = "pqseed"


# ann_ivfpq_topk memoizes this frame through caching.plan_memo — METADATA
# only, like load_table: the union-of-branches PLAN is static per (applicationId,
# embeddings file identity), while the collect() that EXECUTES it still runs
# on every invocation, reading the parquet bytes. Rebuilding the plan cost
# ~0.1 s of py4j chatter per run.
def _ivfpq_fit_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.functions.hashing import md5_hash64

    emb = load_table(spark, sf_dir, "embeddings")

    # ONE fit-collect job for all three tiny states (coarse seeds, PQ seeds,
    # query vector): a union of three TakeOrderedAndProject branches over the
    # same scan — three separate collects cost a driver round-trip each,
    # which dominated this query's wall time at sf0.1
    def branch(role: str, salt: str, n: int):
        return (
            emb.select(
                F.lit(role).alias("role"),
                "vec_id",
                "embedding",
                md5_hash64("vec_id", salt=salt).alias("h"),
            )
            .orderBy("h", "vec_id")
            .limit(n)
        )

    return (
        branch("c", _IVFPQ_CSALT, _IVFPQ_KC)
        .unionByName(branch("p", _IVFPQ_PSALT, _IVFPQ_KPQ))
        .unionByName(
            emb.filter(F.col("vec_id") == 0).select(
                F.lit("q").alias("role"), "vec_id", "embedding", F.lit(0).cast("bigint").alias("h")
            )
        )
    )


def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # the fit EXECUTES here on every invocation (fresh values from the
    # current parquet bytes); only the lazy plan object above is reused
    fit = plan_memo(
        spark, f"{sf_dir}/embeddings.parquet", "ivfpq_fit", lambda: _ivfpq_fit_frame(spark, sf_dir)
    ).collect()
    cseeds = sorted((r for r in fit if r["role"] == "c"), key=lambda r: (r["h"], r["vec_id"]))
    pseeds = sorted((r for r in fit if r["role"] == "p"), key=lambda r: (r["h"], r["vec_id"]))
    centroids = [(i, [float(x) for x in r["embedding"]]) for i, r in enumerate(cseeds)]
    dsub = 64 // _IVFPQ_M
    codebooks = [
        [[float(x) for x in r["embedding"][s * dsub : (s + 1) * dsub]] for r in pseeds]
        for s in range(_IVFPQ_M)
    ]
    qvec = next(r for r in fit if r["role"] == "q")["embedding"]
    return sim.ivfpq_topk(
        emb.filter(F.col("vec_id") != 0),
        "vec_id",
        "embedding",
        qvec,
        centroids,
        codebooks,
        k=10,
        nprobe=_IVFPQ_NPROBE,
        score_round=6,
    ).orderBy("adc_dist", "vec_id")


_IVFPQ_COS = (
    "list_sum(list_transform(list_zip({a}, {b}), x -> x[1]::DOUBLE * x[2]::DOUBLE))"
    " / (sqrt(list_sum(list_transform({a}, x -> x::DOUBLE * x::DOUBLE)))"
    " * sqrt(list_sum(list_transform({b}, x -> x::DOUBLE * x::DOUBLE))))"
)
_IVFPQ_L2 = (
    "list_sum(list_transform(list_zip({a}, {b}),"
    " x -> (x[1]::DOUBLE - x[2]::DOUBLE) * (x[1]::DOUBLE - x[2]::DOUBLE)))"
)

ANN_IVFPQ_SQL = f"""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
subs AS (SELECT unnest(range({_IVFPQ_M})) AS s),
cseeds AS (
  SELECT embedding,
         ('0x' || substr(md5('{_IVFPQ_CSALT}:' || CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT AS h,
         vec_id
  FROM embeddings ORDER BY h, vec_id LIMIT {_IVFPQ_KC}
),
cents AS (SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS cid, embedding AS c FROM cseeds),
pseeds AS (
  SELECT embedding,
         ('0x' || substr(md5('{_IVFPQ_PSALT}:' || CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT AS h,
         vec_id
  FROM embeddings ORDER BY h, vec_id LIMIT {_IVFPQ_KPQ}
),
cb AS (
  SELECT subs.s, row_number() OVER (PARTITION BY subs.s ORDER BY p.h, p.vec_id) - 1 AS j,
         list_slice(p.embedding, subs.s * 8 + 1, subs.s * 8 + 8) AS sub
  FROM pseeds p CROSS JOIN subs
),
probe AS (
  SELECT cid FROM cents, q
  ORDER BY {_IVFPQ_COS.format(a="c", b="qe")} DESC, cid LIMIT {_IVFPQ_NPROBE}
),
assign AS (
  SELECT e.vec_id, e.embedding, cents.cid,
         row_number() OVER (
           PARTITION BY e.vec_id
           ORDER BY {_IVFPQ_COS.format(a="e.embedding", b="cents.c")} DESC, cents.cid ASC
         ) AS rn
  FROM embeddings e CROSS JOIN cents WHERE e.vec_id != 0
),
cands AS (
  SELECT vec_id, embedding FROM assign
  WHERE rn = 1 AND cid IN (SELECT cid FROM probe)
),
csub AS (
  SELECT cvec.vec_id, subs.s, list_slice(cvec.embedding, subs.s * 8 + 1, subs.s * 8 + 8) AS sub
  FROM cands cvec CROSS JOIN subs
),
code AS (
  SELECT cs.vec_id, cs.s, cb.j,
         row_number() OVER (
           PARTITION BY cs.vec_id, cs.s
           ORDER BY {_IVFPQ_L2.format(a="cs.sub", b="cb.sub")} ASC, cb.j ASC
         ) AS rn
  FROM csub cs JOIN cb ON cs.s = cb.s
),
qsub AS (
  SELECT subs.s, list_slice(q.qe, subs.s * 8 + 1, subs.s * 8 + 8) AS sub
  FROM q CROSS JOIN subs
),
adc AS (
  SELECT qs.s, cb.j, {_IVFPQ_L2.format(a="qs.sub", b="cb.sub")} AS qd
  FROM qsub qs JOIN cb ON qs.s = cb.s
),
scored AS (
  SELECT code.vec_id, round(sum(adc.qd), 6) AS adc_dist
  FROM code JOIN adc ON code.s = adc.s AND code.j = adc.j
  WHERE code.rn = 1
  GROUP BY code.vec_id
)
SELECT vec_id, adc_dist FROM scored ORDER BY adc_dist, vec_id LIMIT 10
"""

QUERIES["ann_ivfpq_topk"] = ann_ivfpq_topk
ORACLES["ann_ivfpq_topk"] = ANN_IVFPQ_SQL


# --------------------------------------------------------------------------
# ann_ivfpq_recall_report: measure, don't guess (VERDICT r5 #9) — recall@10
# of the composed IVF-PQ rung vs brute-force exact L2 ground truth, the same
# published-recall discipline lsh_recall_report applies to the LSH rung.
# Two numbers, isolating the two approximation stages: candidate_recall
# (fraction of the exact top-10 whose home bucket is probed — the IVF
# stage's loss, the analogue of LSH candidate recall) and recall_at_10
# (after PQ/ADC re-ranking — the end-to-end number users feel). Ground
# truth is one exact scan (TakeOrderedAndProject top-10 on rounded L2,
# vec_id tiebreak); the approximate side is the ann_ivfpq_topk plan itself,
# so the report grades exactly what users run. Bounded 1-row aggregates
# combine via broadcast cross joins. On the synthetic UNIFORM embeddings
# both numbers are intrinsically modest (no cluster structure for the
# coarse quantizer to exploit: candidate recall ~nprobe/kc); the clustered
# fixtures in tests/test_functions.py show the high-recall regime.
def ann_ivfpq_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.functions.hashing import md5_hash64

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    qlit = double_lit([float(v) for v in qvec])
    exact = (
        emb.filter(F.col("vec_id") != 0)
        .select(
            "vec_id",
            "embedding",
            F.round(
                F.aggregate(
                    F.zip_with(
                        "embedding", qlit, lambda a, b: (a.cast("double") - b) * (a.cast("double") - b)
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                6,
            ).alias("d"),
        )
        .orderBy("d", "vec_id")
        .limit(10)
    )
    # same seeded coarse fit as ann_ivfpq_topk (tiny collect)
    seeds = (
        emb.select("vec_id", "embedding", md5_hash64("vec_id", salt=_IVFPQ_CSALT).alias("h"))
        .orderBy("h", "vec_id")
        .limit(_IVFPQ_KC)
        .collect()
    )
    centroids = [
        (i, [float(x) for x in r["embedding"]])
        for i, r in enumerate(sorted(seeds, key=lambda r: (r["h"], r["vec_id"])))
    ]

    def _seq_cos(a, b):
        dot = na = nb = 0.0
        for x, y in zip(a, b):
            dot += x * y
            na += x * x
            nb += y * y
        return dot / ((na**0.5) * (nb**0.5))

    probe = [cid for _, cid in sorted(((-_seq_cos(c, qvec), cid) for cid, c in centroids))[:_IVFPQ_NPROBE]]
    in_probe = exact.withColumn("cid", sim.assign_centroids_expr("embedding", centroids)).filter(
        F.col("cid").isin(probe)
    )
    approx = ann_ivfpq_topk(spark, sf_dir).select("vec_id")
    hit = exact.join(approx, "vec_id", "left_semi")
    n_t = exact.agg(F.count("*").alias("n_true"))
    n_p = in_probe.agg(F.count("*").alias("n_in_probe"))
    n_h = hit.agg(F.count("*").alias("n_hit"))
    return (
        n_t.crossJoin(n_p)
        .crossJoin(n_h)
        .withColumn(
            "candidate_recall",
            F.when(F.col("n_true") > 0, F.round(F.col("n_in_probe") / F.col("n_true"), 6)),
        )
        .withColumn(
            "recall_at_10",
            F.when(F.col("n_true") > 0, F.round(F.col("n_hit") / F.col("n_true"), 6)),
        )
    )


ANN_IVFPQ_RECALL_SQL = f"""
WITH approx AS ({ANN_IVFPQ_SQL}),
qq AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
exact AS (
  SELECT vec_id, embedding,
         round({_IVFPQ_L2.format(a="embedding", b="qe")}, 6) AS d
  FROM embeddings, qq WHERE vec_id != 0
  ORDER BY d, vec_id LIMIT 10
),
cseeds AS (
  SELECT embedding,
         ('0x' || substr(md5('{_IVFPQ_CSALT}:' || CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT AS h,
         vec_id
  FROM embeddings ORDER BY h, vec_id LIMIT {_IVFPQ_KC}
),
cents AS (SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS cid, embedding AS c FROM cseeds),
probe AS (
  SELECT cid FROM cents, qq
  ORDER BY {_IVFPQ_COS.format(a="c", b="qe")} DESC, cid LIMIT {_IVFPQ_NPROBE}
),
exact_assign AS (
  SELECT e.vec_id, cents.cid,
         row_number() OVER (
           PARTITION BY e.vec_id
           ORDER BY {_IVFPQ_COS.format(a="e.embedding", b="cents.c")} DESC, cents.cid ASC
         ) AS rn
  FROM exact e CROSS JOIN cents
),
in_probe AS (
  SELECT vec_id FROM exact_assign
  WHERE rn = 1 AND cid IN (SELECT cid FROM probe)
),
hit AS (
  SELECT e.vec_id FROM exact e
  WHERE EXISTS (SELECT 1 FROM approx a WHERE a.vec_id = e.vec_id)
)
SELECT (SELECT count(*) FROM exact) AS n_true,
       (SELECT count(*) FROM in_probe) AS n_in_probe,
       (SELECT count(*) FROM hit) AS n_hit,
       round((SELECT count(*) FROM in_probe)::DOUBLE / (SELECT count(*) FROM exact), 6) AS candidate_recall,
       round((SELECT count(*) FROM hit)::DOUBLE / (SELECT count(*) FROM exact), 6) AS recall_at_10
"""

QUERIES["ann_ivfpq_recall_report"] = ann_ivfpq_recall_report
ORACLES["ann_ivfpq_recall_report"] = ANN_IVFPQ_RECALL_SQL

QUERIES["emb_cluster_silhouette"] = emb_cluster_silhouette
ORACLES["emb_cluster_silhouette"] = EMB_SILHOUETTE_SQL

QUERIES["emb_hard_negatives"] = emb_hard_negatives
ORACLES["emb_hard_negatives"] = EMB_HARD_NEG_SQL


# --------------------------------------------------------------------------
# retrieval_eval_report: IR quality metrics for the BM25 system over the
# same query set — per query: relevant-set size (docs containing ALL the
# query's terms, the boolean-AND ground truth), hits@k, precision@k,
# recall@k, and MRR@k. This is the eval harness a retrieval stack ships
# with; every metric is an exact int/int or 1/int division, so the oracle
# matches bit-for-bit. One corpus pass feeds both the system ranking and
# the ground truth.
def retrieval_eval_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.functions.text import bm25_topk_queries, tokenize

    docs = load_table(spark, sf_dir, "documents")
    qdf = local_df(spark, _QSET, "query_id: int, terms: array<string>")
    sys_rank = bm25_topk_queries(docs, "doc_id", "text", _QSET, k=_QSET_K, score_round=6)

    qterms = qdf.select("query_id", F.explode("terms").alias("term")).select(
        "query_id", F.lower("term").alias("term")
    )
    qn = qterms.groupBy("query_id").agg(F.count("*").alias("n_terms"))
    all_terms = [t.lower() for _, terms in _QSET for t in terms]
    doc_terms = (
        docs.select("doc_id", F.explode(tokenize(F.lower(F.col("text")))).alias("term"))
        .filter(F.col("term").isin(all_terms))
        .distinct()
    )
    rel = (
        doc_terms.join(F.broadcast(qterms), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.count("*").alias("m"))
        .join(F.broadcast(qn), "query_id")
        .filter(F.col("m") == F.col("n_terms"))
        .select("query_id", "doc_id")
    )
    nrel = rel.groupBy("query_id").agg(F.count("*").alias("n_relevant"))
    hits = (
        sys_rank.join(rel, ["query_id", "doc_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("hits_at_k"), F.min("rank").alias("first_rank"))
    )
    qids = qdf.select("query_id")
    return (
        qids.join(nrel, "query_id", "left")
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_relevant", F.lit(0).cast("bigint")).alias("n_relevant"),
            F.coalesce("hits_at_k", F.lit(0).cast("bigint")).alias("hits_at_k"),
            (F.coalesce("hits_at_k", F.lit(0)) / F.lit(_QSET_K)).alias("precision_at_k"),
            F.when(F.coalesce("n_relevant", F.lit(0)) > 0,
                   F.coalesce("hits_at_k", F.lit(0)) / F.col("n_relevant"))
            .otherwise(F.lit(0.0)).alias("recall_at_k"),
            F.coalesce(F.lit(1.0) / F.col("first_rank"), F.lit(0.0)).alias("mrr"),
        )
        .orderBy("query_id")
    )


def _retrieval_eval_sql() -> str:
    qrows = ", ".join(f"({qid}, '{t}')" for qid, terms in _QSET for t in terms)
    all_terms = ", ".join(sorted({f"'{t}'" for _, terms in _QSET for t in terms}))
    return f"""
WITH qterms(query_id, term) AS (VALUES {qrows}),
sys AS (SELECT * FROM ({DOC_BM25_QUERYSET_SQL})),
qn AS (SELECT query_id, count(*) AS n_terms FROM qterms GROUP BY 1),
doc_terms AS (
  SELECT DISTINCT doc_id, term
  FROM (SELECT doc_id, unnest({_TOKS_LOWER}) AS term FROM documents)
  WHERE term IN ({all_terms})
),
mt AS (
  SELECT qt.query_id, dt.doc_id, count(*) AS m
  FROM qterms qt JOIN doc_terms dt USING (term) GROUP BY 1, 2
),
rel AS (
  SELECT mt.query_id, mt.doc_id FROM mt JOIN qn USING (query_id) WHERE mt.m = qn.n_terms
),
nrel AS (SELECT query_id, count(*) AS n_relevant FROM rel GROUP BY 1),
hits AS (
  SELECT s.query_id, count(*) AS hits_at_k, min(s.rank) AS first_rank
  FROM sys s JOIN rel r ON s.query_id = r.query_id AND s.doc_id = r.doc_id
  GROUP BY 1
)
SELECT q.query_id,
       COALESCE(n.n_relevant, 0) AS n_relevant,
       COALESCE(h.hits_at_k, 0) AS hits_at_k,
       COALESCE(h.hits_at_k, 0) / {_QSET_K} AS precision_at_k,
       CASE WHEN COALESCE(n.n_relevant, 0) > 0
            THEN COALESCE(h.hits_at_k, 0) / n.n_relevant ELSE 0.0 END AS recall_at_k,
       COALESCE(1.0 / h.first_rank, 0.0) AS mrr
FROM (SELECT DISTINCT query_id FROM qterms) q
LEFT JOIN nrel n USING (query_id)
LEFT JOIN hits h USING (query_id)
ORDER BY q.query_id
"""


RETRIEVAL_EVAL_SQL = _retrieval_eval_sql()

QUERIES["retrieval_eval_report"] = retrieval_eval_report
ORACLES["retrieval_eval_report"] = RETRIEVAL_EVAL_SQL


# --------------------------------------------------------------------------
# dedup_lsh_index_ingest: the INCREMENTAL near-dup path through the real
# on-disk LSH index (io/lsh_index.py) — even-id docs are the indexed
# corpus, odd-id docs arrive as an ingest batch, candidates come from the
# batch's bands equi-joined against the STORED band table. The oracle
# recomputes the identical banded-MinHash math (deterministic md5-based
# hashes) and joins odd against even directly — same pairs, proving the
# persisted index changes the cost model, not the answer.
def dedup_lsh_index_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from bears_spark.io.lsh_index import LSHIndexTable

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    idx = LSHIndexTable(spark, tempfile.mkdtemp(prefix="lshidx_"))
    try:
        idx.build(corpus, "doc_id", "text", num_hashes=_NUM_HASHES, bands=_BANDS, ngram_n=_NGRAM_N)
        pairs = [
            (r["new_id"], r["index_id"])
            for r in idx.candidates_for(batch, "doc_id", "text").collect()
        ]
    finally:
        shutil.rmtree(idx.path, ignore_errors=True)
    out = local_df(spark, pairs, "new_id bigint, index_id bigint") if pairs else (
        local_df(spark, [], "new_id bigint, index_id bigint")
    )
    return out.orderBy("new_id", "index_id")


def _lsh_ingest_sql() -> str:
    base = _minhash_sql()
    # same banded CTEs; replace the final all-pairs select with odd-vs-even
    marker = "SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b"
    head = base[: base.index(marker)]
    return (
        head
        + """SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS index_id
FROM banded a JOIN banded b ON a.band = b.band AND a.band_sig = b.band_sig
WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
ORDER BY new_id, index_id
"""
    )


DEDUP_LSH_INGEST_SQL = _lsh_ingest_sql()

QUERIES["dedup_lsh_index_ingest"] = dedup_lsh_index_ingest
ORACLES["dedup_lsh_index_ingest"] = DEDUP_LSH_INGEST_SQL


# --------------------------------------------------------------------------
# emb_principal_direction: distributed PCA's workhorse — the top (uncentered)
# singular direction of the embedding matrix by power iteration
# (vectors.py power_iteration_top_vector: two aggregation-shaped passes per
# step, dim doubles collected, rounding rule making the fit engine-exact),
# then the corpus projected onto it and the 10 most extreme documents
# returned (principal outliers — the embedding-space analogue of a quality
# score tail). The projection scan is a map + TakeOrderedAndProject; the
# oracle replays the unrolled iterations in SQL and must match bit-for-bit.
_PI_ITERS = 2


def emb_principal_direction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.functions.vectors import dot, power_iteration_top_vector

    emb = load_table(spark, sf_dir, "embeddings")
    v = power_iteration_top_vector(emb, "embedding", dim=64, iters=_PI_ITERS)
    proj = F.round(dot("embedding", F.lit(v)), 6)
    return (
        emb.select("vec_id", proj.alias("proj"))
        .orderBy(F.abs(F.col("proj")).desc(), F.asc("vec_id"))
        .limit(10)
    )


def _pi_w_cte(src: str, tag: str) -> str:
    return f"""w{tag} AS (
  SELECT i, round(sum(u * x), 6) AS w FROM (
    SELECT u, generate_subscripts(embedding, 1) AS i, CAST(unnest(embedding) AS DOUBLE) AS x
    FROM {src}
  ) GROUP BY i
),
v{tag} AS (
  SELECT list(round(w / nrm, 9) ORDER BY i) AS v
  FROM w{tag}, (SELECT sqrt(sum(w * w)) AS nrm FROM w{tag})
)"""


EMB_PRINCIPAL_SQL = f"""
WITH u1 AS (
  SELECT vec_id, embedding,
         list_sum(list_transform(embedding, x -> x::DOUBLE * 0.125)) AS u
  FROM embeddings
),
{_pi_w_cte("u1", "1")},
u2 AS (
  SELECT e.vec_id, e.embedding,
         list_sum(list_transform(list_zip(e.embedding, v1.v), p -> p[1]::DOUBLE * p[2])) AS u
  FROM embeddings e, v1
),
{_pi_w_cte("u2", "2")},
proj AS (
  SELECT e.vec_id,
         round(list_sum(list_transform(list_zip(e.embedding, v2.v), p -> p[1]::DOUBLE * p[2])), 6) AS proj
  FROM embeddings e, v2
)
SELECT vec_id, proj FROM proj ORDER BY abs(proj) DESC, vec_id LIMIT 10
"""

QUERIES["emb_principal_direction"] = emb_principal_direction
ORACLES["emb_principal_direction"] = EMB_PRINCIPAL_SQL


# --------------------------------------------------------------------------
# doc_bm25_rm3: pseudo-relevance feedback (RM3-style query expansion) — the
# classical second rung of lexical retrieval quality: run BM25 for the
# original query, mine the top feedback documents for their most frequent
# non-query terms, and re-score with the expanded weighted query
# (original terms weight 1.0, expansion terms 0.5). Both "fits" (10
# feedback doc ids, 5 expansion terms) are bounded collects baked into the
# second pass as literals — the two passes are each the standard BM25 plan
# (term filter at source, broadcast dfreq, TakeOrderedAndProject). All
# selections cut on exact ints or 6-decimal-rounded scores, so the oracle
# reproduces every choice.
_RM3_FB_DOCS = 10
_RM3_FB_TERMS = 5
_RM3_W = 0.5


def doc_bm25_rm3(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.functions.text import bm25_topk, token_count, tokenize

    docs = load_table(spark, sf_dir, "documents")
    fb = (
        bm25_topk(docs, "doc_id", "text", _BM25_TERMS, k=None)
        .select("doc_id", F.round("score", 6).alias("s"))
        .orderBy(F.desc("s"), "doc_id")
        .limit(_RM3_FB_DOCS)
    )
    fb_ids = [r["doc_id"] for r in fb.collect()]
    exp = (
        docs.filter(F.col("doc_id").isin(fb_ids))
        .select(F.explode(tokenize(F.lower(F.col("text")))).alias("term"))
        .filter(~F.col("term").isin(_BM25_TERMS))
        .groupBy("term")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), "term")
        .limit(_RM3_FB_TERMS)
    )
    weights = {t: 1.0 for t in _BM25_TERMS}
    weights.update({r["term"]: _RM3_W for r in exp.collect()})
    all_terms = sorted(weights)

    row = docs.agg(F.count("*").alias("n"), F.sum(token_count("text")).alias("s")).first()
    n_docs, avgdl = row["n"], float(row["s"]) / row["n"]
    toks = docs.select(
        F.col("doc_id"),
        token_count("text").alias("dl"),
        F.explode(tokenize(F.lower(F.col("text")))).alias("term"),
    ).filter(F.col("term").isin(all_terms))
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"), F.max("dl").alias("dl"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df_t"))
    idf = F.log(F.lit(1.0) + (F.lit(float(n_docs)) - F.col("df_t") + 0.5) / (F.col("df_t") + 0.5))
    wmap = F.create_map(*[c for t in all_terms for c in (F.lit(t), F.lit(weights[t]))])
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .select(
            "doc_id",
            (
                F.element_at(wmap, F.col("term"))
                * idf
                * (F.col("tf") * 2.2)
                / (F.col("tf") + 1.2 * (1.0 - 0.75 + 0.75 * F.col("dl") / F.lit(avgdl)))
            ).alias("s"),
        )
        .groupBy("doc_id")
        .agg(F.round(F.sum("s"), 6).alias("score"))
    )
    return scored.orderBy(F.desc("score"), "doc_id").limit(10)


_RM3_Q0 = ", ".join(f"('{t}')" for t in _BM25_TERMS)
_RM3_Q0_IN = ", ".join(f"'{t}'" for t in _BM25_TERMS)

DOC_BM25_RM3_SQL = f"""
WITH dl AS (
  SELECT doc_id, len({_TOKS}) AS dl FROM documents
), stats AS (
  SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl
), toks AS (
  SELECT doc_id, unnest({_TOKS_LOWER}) AS term FROM documents
), tf0 AS (
  SELECT doc_id, term, count(*) AS tf FROM toks
  WHERE term IN ({_RM3_Q0_IN}) GROUP BY doc_id, term
), dfreq0 AS (
  SELECT term, count(*) AS df_t FROM tf0 GROUP BY term
), scored0 AS (
  SELECT tf0.doc_id,
         round(sum(
           ln(1.0 + (CAST(n AS DOUBLE) - df_t + 0.5) / (df_t + 0.5))
           * (tf * 2.2) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
         ), 6) AS s
  FROM tf0 JOIN dfreq0 USING (term) JOIN dl ON tf0.doc_id = dl.doc_id, stats
  GROUP BY tf0.doc_id
), fb AS (
  SELECT doc_id FROM scored0 ORDER BY s DESC, doc_id LIMIT {_RM3_FB_DOCS}
), exp AS (
  SELECT term FROM toks JOIN fb USING (doc_id)
  WHERE term NOT IN ({_RM3_Q0_IN})
  GROUP BY term ORDER BY count(*) DESC, term LIMIT {_RM3_FB_TERMS}
), terms AS (
  SELECT term, 1.0 AS w FROM (VALUES {_RM3_Q0}) q(term)
  UNION ALL
  SELECT term, {_RM3_W} AS w FROM exp
), tf AS (
  SELECT toks.doc_id, toks.term, count(*) AS tf
  FROM toks JOIN terms ON toks.term = terms.term
  GROUP BY toks.doc_id, toks.term
), dfreq AS (
  SELECT term, count(*) AS df_t FROM tf GROUP BY term
), scored AS (
  SELECT tf.doc_id,
         round(sum(
           terms.w
           * ln(1.0 + (CAST(n AS DOUBLE) - df_t + 0.5) / (df_t + 0.5))
           * (tf * 2.2) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
         ), 6) AS score
  FROM tf
  JOIN dfreq USING (term)
  JOIN terms ON tf.term = terms.term
  JOIN dl ON tf.doc_id = dl.doc_id, stats
  GROUP BY tf.doc_id
)
SELECT doc_id, score FROM scored ORDER BY score DESC, doc_id LIMIT 10
"""

QUERIES["doc_bm25_rm3"] = doc_bm25_rm3
ORACLES["doc_bm25_rm3"] = DOC_BM25_RM3_SQL


# --------------------------------------------------------------------------
# dedup_minhash_eval: trust-the-sketch report — precision/recall of the
# banded MinHash candidate pairs against the exact (df-capped) trigram
# Jaccard >= 0.5 pair set. This is the number a curator checks before
# letting the sketch replace the exact join at scale: banding theory gives
# the expected S-curve; this measures it on THIS corpus. One full-outer
# join of two already-bounded pair sets + a single aggregate row.
def dedup_minhash_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pred = dd.minhash_lsh_candidates(
        docs, "doc_id", "text", num_hashes=_NUM_HASHES, bands=_BANDS, ngram_n=_NGRAM_N
    ).select("id_a", "id_b", F.lit(1).alias("in_pred"))
    truth = (
        dd.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5,
                               max_doc_freq=100, prune_unique_grams=True)
        .select("id_a", "id_b", F.lit(1).alias("in_truth"))
    )
    j = pred.join(truth, ["id_a", "id_b"], "full_outer")
    return j.agg(
        F.sum("in_pred").alias("n_pred"),
        F.sum("in_truth").alias("n_truth"),
        F.sum(F.coalesce("in_pred", F.lit(0)) * F.coalesce("in_truth", F.lit(0))).alias("n_tp"),
    ).select(
        "n_pred",
        "n_truth",
        "n_tp",
        F.round(F.col("n_tp") / F.col("n_pred"), 6).alias("precision"),
        F.round(F.col("n_tp") / F.col("n_truth"), 6).alias("recall"),
    )


DEDUP_MINHASH_EVAL_SQL = f"""
WITH pred AS (
  SELECT id_a, id_b, 1 AS in_pred FROM ({MINHASH_LSH_SQL})
), truth AS (
  SELECT id_a, id_b, 1 AS in_truth FROM ({NGRAM_JACCARD_SQL})
), j AS (
  SELECT coalesce(pred.in_pred, 0) AS in_pred, coalesce(truth.in_truth, 0) AS in_truth
  FROM pred FULL OUTER JOIN truth USING (id_a, id_b)
)
SELECT CAST(sum(in_pred) AS BIGINT) AS n_pred,
       CAST(sum(in_truth) AS BIGINT) AS n_truth,
       CAST(sum(in_pred * in_truth) AS BIGINT) AS n_tp,
       round(CAST(sum(in_pred * in_truth) AS DOUBLE) / sum(in_pred), 6) AS precision,
       round(CAST(sum(in_pred * in_truth) AS DOUBLE) / sum(in_truth), 6) AS recall
FROM j
"""

QUERIES["dedup_minhash_eval"] = dedup_minhash_eval
ORACLES["dedup_minhash_eval"] = DEDUP_MINHASH_EVAL_SQL


# --------------------------------------------------------------------------
# emb_pca2_projection: the 2-D PCA map — second singular direction by
# DEFLATION (x' = x - <x,v1>*v1 is a map-only projection; no residual table
# is materialized) power-iterated with the same rounding rule, then the
# corpus projected onto (v1, v2). Output: the 10 most extreme docs along v1
# with both coordinates — the thing you actually plot. The oracle unrolls
# all four iteration stages and both projections.
def emb_pca2_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.functions.vectors import dot, power_iteration_top2

    emb = load_table(spark, sf_dir, "embeddings")
    v1, v2 = power_iteration_top2(emb, "embedding", dim=64, iters=_PI_ITERS)
    p1 = F.round(dot("embedding", F.lit(v1)), 6)
    p2 = F.round(dot("embedding", F.lit(v2)), 6)
    return (
        emb.select("vec_id", p1.alias("p1"), p2.alias("p2"))
        .orderBy(F.abs(F.col("p1")).desc(), F.asc("vec_id"))
        .limit(10)
    )


def _pca2_dot(a: str, b: str) -> str:
    return f"list_sum(list_transform(list_zip({a}, {b}), q -> q[1]::DOUBLE * q[2]))"


EMB_PCA2_SQL = f"""
WITH u1 AS (
  SELECT vec_id, embedding,
         list_sum(list_transform(embedding, x -> x::DOUBLE * 0.125)) AS u
  FROM embeddings
),
{_pi_w_cte("u1", "1")},
u2 AS (
  SELECT e.vec_id, e.embedding, {_pca2_dot("e.embedding", "v1.v")} AS u
  FROM embeddings e, v1
),
{_pi_w_cte("u2", "2")},
r AS (
  SELECT e.vec_id,
         list_transform(list_zip(e.embedding, v2.v),
                        p -> p[1]::DOUBLE - ({_pca2_dot("e.embedding", "v2.v")}) * p[2]) AS embedding
  FROM embeddings e, v2
),
u3 AS (
  SELECT vec_id, embedding, list_sum(list_transform(embedding, x -> x * 0.125)) AS u FROM r
),
{_pi_w_cte("u3", "3")},
u4 AS (
  SELECT r.vec_id, r.embedding, {_pca2_dot("r.embedding", "v3.v")} AS u
  FROM r, v3
),
{_pi_w_cte("u4", "4")},
proj AS (
  SELECT e.vec_id,
         round({_pca2_dot("e.embedding", "v2.v")}, 6) AS p1,
         round({_pca2_dot("e.embedding", "v4.v")}, 6) AS p2
  FROM embeddings e, v2, v4
)
SELECT vec_id, p1, p2 FROM proj ORDER BY abs(p1) DESC, vec_id LIMIT 10
"""

QUERIES["emb_pca2_projection"] = emb_pca2_projection
ORACLES["emb_pca2_projection"] = EMB_PCA2_SQL


# --------------------------------------------------------------------------
# dedup_minhash_calibration: is the sketch's Jaccard ESTIMATE trustworthy —
# over the candidate pairs, compare the signature agreement rate
# (matches/16, the MinHash estimator) against the exact shingle Jaccard:
# mean absolute error and bias. Complements dedup_minhash_eval (which
# scores the candidate SET); together they justify replacing the exact
# O(n^2) join with the sketch at scale. All per-pair arithmetic is exact
# rationals except the final averages.
def dedup_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.functions.hashing import minhash_signature
    from bears_spark.functions.text import word_ngrams

    docs = load_table(spark, sf_dir, "documents")
    sh = F.array_distinct(word_ngrams(F.col("text"), _NGRAM_N))
    per = docs.select("doc_id", sh.alias("sh")).filter(F.size("sh") > 0)
    per = per.select("doc_id", "sh", minhash_signature("sh", _NUM_HASHES).alias("sig"))
    cands = dd.minhash_lsh_candidates(
        docs, "doc_id", "text", num_hashes=_NUM_HASHES, bands=_BANDS, ngram_n=_NGRAM_N
    )
    a = per.select(
        F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"), F.col("sig").alias("sig_a")
    )
    b = per.select(
        F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"), F.col("sig").alias("sig_b")
    )
    j = cands.join(a, "id_a").join(b, "id_b")
    matches = F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda z: z))
    est = matches / F.lit(float(_NUM_HASHES))
    exact = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(F.array_union("sh_a", "sh_b"))
    scored = j.select((est - exact).alias("err"), F.abs(est - exact).alias("aerr"))
    return scored.agg(
        F.count("*").alias("n_pairs"),
        F.round(F.avg("aerr"), 6).alias("mae"),
        F.round(F.avg("err"), 6).alias("bias"),
    )


def _minhash_calibration_sql() -> str:
    from bears_spark.functions.hashing import MINHASH_P, minhash_coeffs

    est_terms = " + ".join(
        f"(CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END)" for i in range(_NUM_HASHES)
    )
    return f"""
WITH cands AS ({MINHASH_LSH_SQL}),
toks AS (
  SELECT doc_id, {_TOKS} AS t FROM documents
), sh_t AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
  FROM toks WHERE len(t) >= {_NGRAM_N}
), bh_t AS (
  SELECT doc_id, sh, list_transform(sh, s -> {_hex2int('s')} % {MINHASH_P}) AS bh
  FROM sh_t WHERE len(sh) > 0
), sig AS (
  SELECT doc_id, sh,
         {", ".join(f"list_min(list_transform(bh, x -> (x * {a} + {b}) % {MINHASH_P})) AS h{i}" for i, (a, b) in ((i, minhash_coeffs(i)) for i in range(_NUM_HASHES)))}
  FROM bh_t
), scored AS (
  SELECT ({est_terms}) / {float(_NUM_HASHES)} AS est,
         CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
           / len(list_distinct(list_concat(sa.sh, sb.sh))) AS j
  FROM cands JOIN sig sa ON cands.id_a = sa.doc_id JOIN sig sb ON cands.id_b = sb.doc_id
)
SELECT count(*) AS n_pairs,
       round(avg(abs(est - j)), 6) AS mae,
       round(avg(est - j), 6) AS bias
FROM scored
"""


DEDUP_MINHASH_CALIBRATION_SQL = _minhash_calibration_sql()

QUERIES["dedup_minhash_calibration"] = dedup_minhash_calibration
ORACLES["dedup_minhash_calibration"] = DEDUP_MINHASH_CALIBRATION_SQL


# --------------------------------------------------------------------------
# dedup_edit_prefix_join: exact edit-distance self-join on the 40-char
# document head (boilerplate-opening near-dups) via the lossless PassJoin
# partition signature — bounded per-string probe fan-out, exact-substring
# join keys, verification on candidates only. The oracle is the O(n^2)
# brute force, tractable at sf0.01; equality proves the filter lossless.
def dedup_edit_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.substring("text", 1, 40).alias("head")
    )
    return dd.edit_distance_join(docs, "doc_id", "head", max_distance=2).orderBy(
        "id_a", "id_b"
    )


DEDUP_EDIT_PREFIX_SQL = """
WITH d AS (SELECT doc_id, substr(text, 1, 40) AS s FROM documents)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, levenshtein(a.s, b.s) AS edit_dist
FROM d a JOIN d b ON a.doc_id < b.doc_id
WHERE abs(length(a.s) - length(b.s)) <= 2 AND levenshtein(a.s, b.s) <= 2
ORDER BY id_a, id_b
"""

QUERIES["dedup_edit_prefix_join"] = dedup_edit_prefix_join
ORACLES["dedup_edit_prefix_join"] = DEDUP_EDIT_PREFIX_SQL


# --------------------------------------------------------------------------
# doc_rake_keyphrases: RAKE keyword extraction — candidate phrases are
# maximal token runs between stopword boundaries (segmentation = a running
# stopword count per document, embarrassingly parallel), scored by summed
# degree/frequency word metrics; corpus top-15 by (rounded score, phrase).
def doc_rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.functions.text import rake_phrases

    docs = load_table(spark, sf_dir, "documents")
    scored = rake_phrases(docs, "doc_id", "text", max_len=4)
    return (
        scored.select("phrase", "plen", "n_occurrences", F.round("score", 4).alias("score"))
        .orderBy(F.desc("score"), "phrase")
        .limit(15)
    )


_RAKE_STOP = "('the','a','an','and','or','of','to','in','is','it','that','for','on','with','as')"

DOC_RAKE_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS t FROM documents
), pos AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(t) + 1), i -> {{'pos': i, 'tok': t[i]}}),
                recursive := true)
  FROM toks
), seg AS (
  SELECT doc_id, pos, tok,
         sum(CASE WHEN tok IN {_RAKE_STOP} THEN 1 ELSE 0 END)
             OVER (PARTITION BY doc_id ORDER BY pos) AS phrase_id,
         tok IN {_RAKE_STOP} AS is_stop
  FROM pos
), phr AS (
  SELECT doc_id, phrase_id, string_agg(tok, ' ' ORDER BY pos) AS phrase, count(*) AS plen
  FROM seg WHERE NOT is_stop GROUP BY 1, 2 HAVING count(*) <= 4
), by_text AS (
  SELECT phrase, plen, count(*) AS n_occurrences FROM phr GROUP BY 1, 2
), ws AS (
  SELECT word, CAST(sum(plen) AS DOUBLE) / count(*) AS wscore
  FROM (SELECT plen, unnest(string_split(phrase, ' ')) AS word FROM phr) GROUP BY 1
), scored AS (
  SELECT bt.phrase, bt.plen, bt.n_occurrences, round(sum(ws.wscore), 4) AS score
  FROM (SELECT phrase, plen, n_occurrences, unnest(string_split(phrase, ' ')) AS word
        FROM by_text) bt
  JOIN ws USING (word) GROUP BY 1, 2, 3
)
SELECT phrase, plen, n_occurrences, score FROM scored ORDER BY score DESC, phrase LIMIT 15
"""

QUERIES["doc_rake_keyphrases"] = doc_rake_keyphrases
ORACLES["doc_rake_keyphrases"] = DOC_RAKE_SQL


# --------------------------------------------------------------------------
# emb_matryoshka_recall: how much ANN quality survives truncating the
# embedding to its 16-dim prefix (Matryoshka representation learning's
# deployment trick: serve a prefix, keep most of the ranking) — recall@10
# of the truncated-cosine top-10 against the full 64-dim top-10 for the
# standard query vector. Two TakeOrderedAndProject scans + a 10x10 bounded
# join; at 100 TB the truncated scan reads 1/4 of the vector bytes.
def emb_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    corpus = emb.filter(F.col("vec_id") != 0)
    full = sim.cosine_topk(corpus, "vec_id", "embedding", qrow, k=10).select("vec_id")
    trunc_corpus = corpus.select("vec_id", F.slice("embedding", 1, 16).alias("embedding"))
    trunc = sim.cosine_topk(trunc_corpus, "vec_id", "embedding", list(qrow[:16]), k=10).select("vec_id")
    hit = full.join(trunc, "vec_id").count()
    return emb.sparkSession.range(1).select(
        F.lit(10).alias("k"),
        F.lit(16).alias("dim_trunc"),
        F.lit(hit).alias("n_overlap"),
        F.round(F.lit(hit / 10.0), 6).alias("recall_at_10"),
    )


_MAT_DOT = "list_sum(list_transform(list_zip({a}, {b}), x -> x[1]::DOUBLE * x[2]::DOUBLE))"
_MAT_NRM = "sqrt(list_sum(list_transform({a}, x -> x::DOUBLE * x::DOUBLE)))"

EMB_MATRYOSHKA_SQL = f"""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
full_top AS (
  SELECT e.vec_id
  FROM embeddings e, q
  WHERE e.vec_id != 0
  ORDER BY {_MAT_DOT.format(a='e.embedding', b='q.qe')}
        / ({_MAT_NRM.format(a='e.embedding')} * {_MAT_NRM.format(a='q.qe')}) DESC, e.vec_id ASC
  LIMIT 10
),
trunc_top AS (
  SELECT e.vec_id
  FROM embeddings e, q
  WHERE e.vec_id != 0
  ORDER BY {_MAT_DOT.format(a='e.embedding[1:16]', b='q.qe[1:16]')}
        / ({_MAT_NRM.format(a='e.embedding[1:16]')} * {_MAT_NRM.format(a='q.qe[1:16]')}) DESC, e.vec_id ASC
  LIMIT 10
)
SELECT 10 AS k, 16 AS dim_trunc,
       CAST((SELECT count(*) FROM full_top f JOIN trunc_top t ON f.vec_id = t.vec_id) AS BIGINT) AS n_overlap,
       round((SELECT count(*) FROM full_top f JOIN trunc_top t ON f.vec_id = t.vec_id) / 10.0, 6) AS recall_at_10
"""

QUERIES["emb_matryoshka_recall"] = emb_matryoshka_recall
ORACLES["emb_matryoshka_recall"] = EMB_MATRYOSHKA_SQL


# --------------------------------------------------------------------------
# ann_filtered_topk: metadata-filtered vector search — exact cosine top-10
# restricted to corpus vectors whose label matches the query vector's label
# (the filtered-ANN shape every vector store serves). The label predicate
# sits UNDER the scan (PushedFilters), so the ranking scans only the
# qualifying stripe; plan stays TakeOrderedAndProject.
def ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select("embedding", "label").first()
    corpus = emb.filter((F.col("vec_id") != 0) & (F.col("label") == int(q["label"])))
    top = sim.cosine_topk(corpus, "vec_id", "embedding", q["embedding"], k=10)
    return top.select("vec_id", F.round("cosine", 6).alias("cosine"))


_ANN_F_DOT = "list_sum(list_transform(list_zip(e.embedding, q.embedding), x -> x[1]::DOUBLE * x[2]::DOUBLE))"
_ANN_F_NA = "sqrt(list_sum(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE)))"
_ANN_F_NB = "sqrt(list_sum(list_transform(q.embedding, x -> x::DOUBLE * x::DOUBLE)))"

ANN_FILTERED_SQL = f"""
WITH q AS (SELECT embedding, label FROM embeddings WHERE vec_id = 0)
SELECT e.vec_id AS vec_id,
       round({_ANN_F_DOT} / ({_ANN_F_NA} * {_ANN_F_NB}), 6) AS cosine
FROM embeddings e, q
WHERE e.vec_id != 0 AND e.label = q.label
ORDER BY {_ANN_F_DOT} / ({_ANN_F_NA} * {_ANN_F_NB}) DESC, e.vec_id ASC
LIMIT 10
"""

QUERIES["ann_filtered_topk"] = ann_filtered_topk
ORACLES["ann_filtered_topk"] = ANN_FILTERED_SQL


# --------------------------------------------------------------------------
# emb_knn_eval: k-NN classification accuracy over the embedding corpus —
# 20 hash-sampled query vectors, each classified by the majority label of
# its 5 cosine-nearest neighbors (excluding itself), scored against its own
# label. The 20 queries ride a broadcast join against the corpus (bounded
# 20x fanout), per-query top-5 is WindowGroupLimit, majority vote is a
# count + rank on the (query, label) grain.
def emb_knn_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from bears_spark.functions.hashing import md5_hash64

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(md5_hash64("vec_id", salt="knn") % 25 == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        F.col("label").alias("qlabel"),
    )
    corpus = emb.select("vec_id", "embedding", "label")
    dot = F.aggregate(
        F.zip_with("qe", "embedding", lambda a, b: a.cast("double") * b.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    nrm = lambda c: F.sqrt(
        F.aggregate(
            F.transform(c, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    scored = (
        corpus.join(F.broadcast(queries), F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "qlabel",
            "vec_id",
            "label",
            (dot / (nrm(F.col("qe")) * nrm(F.col("embedding")))).alias("cos"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("vec_id"))
    top5 = scored.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= 5)
    votes = top5.groupBy("qid", "qlabel", "label").agg(F.count("*").alias("v"))
    wv = Window.partitionBy("qid").orderBy(F.desc("v"), F.asc("label"))
    pred = votes.withColumn("vr", F.row_number().over(wv)).where(F.col("vr") == 1)
    return pred.agg(
        F.count("*").alias("n_queries"),
        F.sum((F.col("label") == F.col("qlabel")).cast("long")).alias("n_correct"),
        F.round(F.avg((F.col("label") == F.col("qlabel")).cast("double")), 6).alias("knn_accuracy"),
    )


KNN_HASH = "('0x' || substr(md5('knn' || ':' || CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT"
_KD = "list_sum(list_transform(list_zip(q.embedding, e.embedding), x -> x[1]::DOUBLE * x[2]::DOUBLE))"
_KN = "sqrt(list_sum(list_transform({a}, x -> x::DOUBLE * x::DOUBLE)))"

EMB_KNN_SQL = f"""
WITH queries AS (
  SELECT vec_id AS qid, embedding, label AS qlabel FROM embeddings
  WHERE {KNN_HASH} % 25 = 0
), scored AS (
  SELECT q.qid, q.qlabel, e.vec_id, e.label,
         {_KD} / ({_KN.format(a='q.embedding')} * {_KN.format(a='e.embedding')}) AS cos
  FROM queries q JOIN embeddings e ON e.vec_id != q.qid
), top5 AS (
  SELECT * FROM (
    SELECT qid, qlabel, vec_id, label, cos,
           row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rk
    FROM scored
  ) WHERE rk <= 5
), votes AS (
  SELECT qid, qlabel, label, count(*) AS v FROM top5 GROUP BY 1, 2, 3
), pred AS (
  SELECT * FROM (
    SELECT qid, qlabel, label,
           row_number() OVER (PARTITION BY qid ORDER BY v DESC, label) AS vr
    FROM votes
  ) WHERE vr = 1
)
SELECT CAST(count(*) AS BIGINT) AS n_queries,
       CAST(sum(CASE WHEN label = qlabel THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       round(avg(CASE WHEN label = qlabel THEN 1.0 ELSE 0.0 END), 6) AS knn_accuracy
FROM pred
"""

QUERIES["emb_knn_eval"] = emb_knn_eval
ORACLES["emb_knn_eval"] = EMB_KNN_SQL


# --------------------------------------------------------------------------
# source_centroid_similarity: embedding-drift monitor between document
# sources (embeddings bucketed by vec_id % 4 as pseudo-sources for the
# synthetic corpus) — per-source mean vector from one posexplode groupBy
# (source, dim), pairwise cosine between the (4 x 64)-value centroids
# computed driver-side from the collected bounded table.
def source_centroid_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    tagged = emb.select((F.col("vec_id") % 4).alias("src"), F.posexplode("embedding"))
    cent = (
        tagged.groupBy("src", "pos")
        .agg(F.avg(F.col("col").cast("double")).alias("m"))
        .collect()
    )
    vecs: dict[int, list[float]] = {}
    for r in cent:
        vecs.setdefault(int(r["src"]), [0.0] * 64)[int(r["pos"])] = float(r["m"])
    rows = []
    for a in sorted(vecs):
        for b in sorted(vecs):
            if a < b:
                va, vb = vecs[a], vecs[b]
                dot = sum(x * y for x, y in zip(va, vb))
                na = sum(x * x for x in va) ** 0.5
                nb = sum(x * x for x in vb) ** 0.5
                rows.append((a, b, round(dot / (na * nb), 6)))
    return local_df(emb.sparkSession, 
        rows, "src_a int, src_b int, centroid_cosine double"
    ).orderBy("src_a", "src_b")


SOURCE_CENTROID_SQL = """
WITH tagged AS (
  SELECT vec_id % 4 AS src, unnest(embedding) AS val,
         generate_subscripts(embedding, 1) AS pos
  FROM embeddings
), cent AS (
  SELECT src, pos, avg(val::DOUBLE) AS m FROM tagged GROUP BY 1, 2
), pairs AS (
  SELECT a.src AS src_a, b.src AS src_b,
         sum(a.m * b.m) AS dot,
         sqrt(sum(a.m * a.m)) AS na,
         sqrt(sum(b.m * b.m)) AS nb
  FROM cent a JOIN cent b ON a.pos = b.pos AND a.src < b.src
  GROUP BY 1, 2
)
SELECT CAST(src_a AS INT) AS src_a, CAST(src_b AS INT) AS src_b,
       round(dot / (na * nb), 6) AS centroid_cosine
FROM pairs ORDER BY src_a, src_b
"""

QUERIES["source_centroid_similarity"] = source_centroid_similarity
ORACLES["source_centroid_similarity"] = SOURCE_CENTROID_SQL


# --------------------------------------------------------------------------
# emb_exact_dupes: bitwise-identical embedding vectors (the cheap first rung
# of embedding dedup — catches cache replays and re-encoded copies before
# any ANN work). One groupBy on the vector value itself; reports dup groups
# and the total excess vectors, plus the 5 largest groups by size. The
# synthetic corpus contains NO exact dupes, so the graded row is the pinned
# all-clear (stats LEFT JOIN keeps it); detection on a corpus WITH dupes is
# proven by test_emb_exact_dupes_detects (tmp-dir doubled corpus).
def emb_exact_dupes(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    grp = emb.groupBy("embedding").agg(
        F.count("*").alias("n"), F.min("vec_id").alias("rep_vec_id")
    )
    dupes = grp.where(F.col("n") > 1)
    stats = dupes.agg(
        F.count("*").alias("dup_groups"),
        F.coalesce(F.sum(F.col("n") - 1), F.lit(0)).alias("excess_vectors"),
    ).first()
    top = (
        dupes.orderBy(F.desc("n"), "rep_vec_id")
        .limit(5)
        .select("rep_vec_id", "n")
        .collect()
    )
    rows = [(int(stats["dup_groups"]), int(stats["excess_vectors"]), r["rep_vec_id"], r["n"]) for r in top]
    if not rows:
        rows = [(0, 0, None, None)]
    return local_df(emb.sparkSession, 
        rows, "dup_groups bigint, excess_vectors bigint, rep_vec_id bigint, group_size bigint"
    ).orderBy(F.desc("group_size"), "rep_vec_id")


EMB_EXACT_DUPES_SQL = """
WITH grp AS (
  SELECT embedding, count(*) AS n, min(vec_id) AS rep_vec_id
  FROM embeddings GROUP BY embedding
), dupes AS (SELECT * FROM grp WHERE n > 1),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS dup_groups,
         CAST(coalesce(sum(n - 1), 0) AS BIGINT) AS excess_vectors
  FROM dupes
), top AS (
  SELECT rep_vec_id, n FROM dupes ORDER BY n DESC, rep_vec_id LIMIT 5
)
SELECT s.dup_groups, s.excess_vectors, t.rep_vec_id, CAST(t.n AS BIGINT) AS group_size
FROM stats s LEFT JOIN top t ON TRUE
ORDER BY group_size DESC, rep_vec_id
"""

QUERIES["emb_exact_dupes"] = emb_exact_dupes
ORACLES["emb_exact_dupes"] = EMB_EXACT_DUPES_SQL


# --------------------------------------------------------------------------
# emb_centroid_classifier: nearest-centroid (Rocchio) classification eval —
# per-label mean vectors fitted in one posexplode groupBy, every corpus
# vector assigned by the join-free assign_centroids_expr argmax (the same
# expression the streaming cluster assigner grades on), accuracy + per-label
# breakdown for the 3 worst labels.
def emb_centroid_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bears_spark.functions.similarity import assign_centroids_expr

    emb = load_table(spark, sf_dir, "embeddings")
    cent_rows = (
        emb.select("label", F.posexplode("embedding"))
        .groupBy("label", "pos")
        .agg(F.avg(F.col("col").cast("double")).alias("m"))
        .collect()
    )
    byl: dict[int, list[float]] = {}
    for r in cent_rows:
        byl.setdefault(int(r["label"]), [0.0] * 64)[int(r["pos"])] = float(r["m"])
    centroids = [(lbl, byl[lbl]) for lbl in sorted(byl)]
    scored = emb.select(
        "label",
        assign_centroids_expr(F.col("embedding"), centroids).alias("pred"),
    )
    per = scored.groupBy("label").agg(
        F.count("*").alias("n"),
        F.sum((F.col("pred") == F.col("label")).cast("long")).alias("n_correct"),
    )
    return (
        per.select(
            "label",
            "n",
            "n_correct",
            F.round(F.col("n_correct") / F.col("n"), 6).alias("accuracy"),
        )
        .orderBy("accuracy", "label")
        .limit(3)
    )


_CC_DOT = "list_sum(list_transform(list_zip(e.embedding, c.vec), x -> x[1]::DOUBLE * x[2]))"
_CC_NE = "sqrt(list_sum(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE)))"
_CC_NC = "sqrt(list_sum(list_transform(c.vec, x -> x * x)))"

EMB_CENTROID_SQL = f"""
WITH cent AS (
  SELECT label AS cid, pos, avg(val::DOUBLE) AS m FROM (
    SELECT label, unnest(embedding) AS val, generate_subscripts(embedding, 1) AS pos
    FROM embeddings
  ) GROUP BY 1, 2
), cvec AS (
  SELECT cid, list(m ORDER BY pos) AS vec FROM cent GROUP BY 1
), scored AS (
  SELECT e.vec_id, e.label, c.cid,
         {_CC_DOT} / ({_CC_NE} * {_CC_NC}) AS cos
  FROM embeddings e CROSS JOIN cvec c
), pred AS (
  SELECT vec_id, label, cid AS pred FROM (
    SELECT vec_id, label, cid, row_number() OVER (
      PARTITION BY vec_id ORDER BY cos DESC, cid
    ) AS rk
    FROM scored
  ) WHERE rk = 1
), per AS (
  SELECT label, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN pred = label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
  FROM pred GROUP BY 1
)
SELECT label, n, n_correct, round(n_correct * 1.0 / n, 6) AS accuracy
FROM per ORDER BY accuracy, label LIMIT 3
"""

QUERIES["emb_centroid_classifier"] = emb_centroid_classifier
ORACLES["emb_centroid_classifier"] = EMB_CENTROID_SQL
