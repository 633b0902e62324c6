"""Training-data pipeline query pack: dedup, similarity search, text
analysis, multimodal plumbing — over the ``documents`` / ``embeddings``
corpus, each with a DuckDB oracle.

All signatures are md5-derived and all float folds sequential, so every
query here is bit-reproducible in DuckDB (see plans/common.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import (
    STOPWORDS,
    doc_fingerprint64,
    lang_id,
    quality_features,
    stopword_count,
    tokenize,
)
from ..operators.dedup import (
    boilerplate_filter,
    dedup_exact,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    segment_dedup,
    simhash_docs,
    winnow_fingerprints,
    winnow_match_pairs,
)
from ..operators.multimodal import decode_media
from ..operators.similarity import (
    cosine_topk_bruteforce,
    ivf_probe_sweep,
    ivf_topk,
    sign_lsh_pairs,
)
from ..tables import load_tables
from .common import dsum, materialize_release, md5_sample_gate, sql_dsum, ts_str

# DuckDB shingle/token CTEs shared by several oracles (word 3-grams,
# mirroring functions/text.py::word_shingles).
_SQL_WORDS = r"SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w FROM documents"
_SQL_SHINGLES = (
    "SELECT doc_id, list_distinct(list_transform(range(1, len(w)-1), "
    "i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh FROM words WHERE len(w) >= 3"
)
_SQL_TOKS = r"SELECT doc_id, lang, regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM documents"


# --------------------------------------------------------------------------
# q23 — exact dedup (hash-groupBy on content digest)
# --------------------------------------------------------------------------
def q23_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return dedup_exact(t["documents"], "doc_id", "text")


Q23_SQL = """
SELECT md5(text) AS content_md5, min(doc_id) AS keeper_id, count(*) AS n_copies
FROM documents GROUP BY md5(text)
"""


# --------------------------------------------------------------------------
# q24 — language ID (stopword heuristic)
# --------------------------------------------------------------------------
def q24_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    d = t["documents"]
    # Materialize toks once: lang_id references its argument in four
    # stopword filters, and inlining tokenize() would re-split per filter.
    return d.select("doc_id", "lang", tokenize(F.col("text")).alias("toks")).select(
        "doc_id", "lang", lang_id(F.col("toks")).alias("pred_lang")
    )


def _sql_stop_count(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return f"len(list_filter(toks, t -> t IN ({words})))"


Q24_SQL = f"""
WITH toks AS ({_SQL_TOKS}),
scored AS (
  SELECT doc_id, lang,
         {_sql_stop_count('en')} AS s_en, {_sql_stop_count('de')} AS s_de,
         {_sql_stop_count('es')} AS s_es, {_sql_stop_count('fr')} AS s_fr
  FROM toks
)
SELECT doc_id, lang,
       CASE WHEN greatest(s_en, s_de, s_es, s_fr) <= 0 THEN 'unknown'
            WHEN s_en = greatest(s_en, s_de, s_es, s_fr) THEN 'en'
            WHEN s_de = greatest(s_en, s_de, s_es, s_fr) THEN 'de'
            WHEN s_es = greatest(s_en, s_de, s_es, s_fr) THEN 'es'
            WHEN s_fr = greatest(s_en, s_de, s_es, s_fr) THEN 'fr'
            ELSE 'unknown' END AS pred_lang
FROM scored
"""


# --------------------------------------------------------------------------
# q25 — quality scoring
# --------------------------------------------------------------------------
def q25_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    d = t["documents"]
    staged = d.select("doc_id", "text", tokenize(F.col("text")).alias("toks"))
    feats = quality_features(F.col("text"), F.col("toks"))
    return staged.select(
        "doc_id",
        feats["n_chars"].alias("n_chars"),
        feats["n_tokens"].alias("n_tokens"),
        feats["avg_token_len"].alias("avg_token_len"),
        feats["stopword_ratio"].alias("stopword_ratio"),
        feats["alpha_ratio"].alias("alpha_ratio"),
        feats["quality_score"].alias("quality_score"),
    )


Q25_SQL = rf"""
WITH t0 AS (
  SELECT doc_id, text, regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM documents
), base AS (
  SELECT doc_id,
         CAST(length(text) AS BIGINT) AS n_chars,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS BIGINT) AS alpha_chars,
         CAST({_sql_stop_count('en')} AS BIGINT) AS stop_en
  FROM t0
), feats AS (
  SELECT doc_id, n_chars, n_tokens,
         CASE WHEN n_tokens > 0 THEN CAST(n_chars - (n_tokens - 1) AS DOUBLE) / CAST(n_tokens AS DOUBLE) ELSE 0.0 END AS avg_token_len,
         CASE WHEN n_tokens > 0 THEN CAST(stop_en AS DOUBLE) / CAST(n_tokens AS DOUBLE) ELSE 0.0 END AS stopword_ratio,
         CASE WHEN n_chars > 0 THEN CAST(alpha_chars AS DOUBLE) / CAST(n_chars AS DOUBLE) ELSE 0.0 END AS alpha_ratio
  FROM base
)
SELECT doc_id, n_chars, n_tokens, avg_token_len, stopword_ratio, alpha_ratio,
       least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.4 + stopword_ratio * 0.3 + alpha_ratio * 0.3 AS quality_score
FROM feats
"""


# --------------------------------------------------------------------------
# q26 — token counting (whitespace + BPE-ish regex)
# --------------------------------------------------------------------------
def q26_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    d = t["documents"]
    ws = F.size(tokenize(F.col("text"))).cast("bigint")
    bpe = F.size(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), 0)
    ).cast("bigint")
    return d.select("doc_id", ws.alias("n_ws_tokens"), bpe.alias("n_bpe_tokens"))


Q26_SQL = r"""
SELECT doc_id,
       CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS BIGINT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS n_bpe_tokens
FROM documents
"""


# --------------------------------------------------------------------------
# q27 — document fingerprinting
# --------------------------------------------------------------------------
def q27_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    d = t["documents"]
    norm = F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))
    return d.select(
        "doc_id",
        F.md5(norm).alias("md5_full"),
        doc_fingerprint64(F.col("text")).alias("fp64"),
    )


Q27_SQL = r"""
WITH n AS (
  SELECT doc_id, lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS norm FROM documents
)
SELECT doc_id, md5(norm) AS md5_full,
       CAST(('0x' || substr(md5(norm), 1, 15)) AS BIGINT) AS fp64
FROM n
"""


# --------------------------------------------------------------------------
# q28 — MinHash-LSH candidate pairs
# --------------------------------------------------------------------------
_MH_K, _MH_BANDS = 12, 4
_MH_RPB = _MH_K // _MH_BANDS


def q28_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return minhash_lsh_pairs(t["documents"], "doc_id", "text", k=_MH_K, bands=_MH_BANDS)


def _sql_md5_60bit(expr: str) -> str:
    """DuckDB mirror of operators/dedup.py::_md5_60bit."""
    return f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"


# Mirrors operators/dedup.py: one 60-bit md5 base per shingle reduced mod
# MINHASH_PRIME, then k multiply-mod components with the same coefficients.
from ..operators.dedup import MINHASH_PRIME as _MH_P
from ..operators.dedup import minhash_coeffs as _mh_coeffs

_mh_cols = ",\n         ".join(
    f"list_min(list_transform(hs, h -> (h * {a} + {b}) % {_MH_P})) AS mh{i}"
    for i, (a, b) in enumerate(_mh_coeffs(_MH_K))
)
_band_selects = "\n  UNION ALL\n".join(
    f"  SELECT doc_id, {b} AS band_id, "
    + " || '|' || ".join(f"CAST(mh{i} AS VARCHAR)" for i in range(b * _MH_RPB, (b + 1) * _MH_RPB))
    + " AS band_sig FROM sig"
    for b in range(_MH_BANDS)
)
Q28_SQL = f"""
WITH words AS ({_SQL_WORDS}),
sh AS ({_SQL_SHINGLES}),
based AS (
  SELECT doc_id,
         list_transform(sh, s -> {_sql_md5_60bit('s')} % {_MH_P}) AS hs
  FROM sh
),
sig AS (
  SELECT doc_id, {_mh_cols}
  FROM based
),
banded AS (
{_band_selects}
),
keyed AS (
  SELECT doc_id, band_id, {_sql_md5_60bit('band_sig')} AS band_key FROM banded
)
SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
FROM keyed a JOIN keyed b
  ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
"""


# --------------------------------------------------------------------------
# q29 — exact n-gram Jaccard near-dup pairs (inverted-index join)
# --------------------------------------------------------------------------
_J_MAX_DF = 100  # stop-shingle cap: bounds the postings join at any corpus size


def q29_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    pairs, pins = ngram_jaccard_pairs(
        t["documents"], "doc_id", "text", threshold=0.8, max_df=_J_MAX_DF
    )
    return materialize_release(pairs, *pins)


def _sql_jaccard_pairs(threshold: float) -> str:
    """The q29 exact-Jaccard pair CTE chain, threshold-parameterized —
    q146's sweep reuses it at 0.5."""
    return f"""
WITH words AS ({_SQL_WORDS}),
sh AS ({_SQL_SHINGLES}),
posts0 AS (
  SELECT doc_id, {_sql_md5_60bit('shingle')} AS sh_h
  FROM (SELECT doc_id, unnest(sh) AS shingle FROM sh)
),
freq AS (SELECT sh_h FROM posts0 GROUP BY sh_h HAVING count(*) <= {_J_MAX_DF}),
posts AS (SELECT p.doc_id, p.sh_h FROM posts0 p JOIN freq USING (sh_h)),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM posts GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_inter
  FROM posts a JOIN posts b ON a.sh_h = b.sh_h AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT a_id, b_id,
       CAST(n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) AS jaccard
FROM inter
JOIN sizes sa ON a_id = sa.doc_id
JOIN sizes sb ON b_id = sb.doc_id
WHERE CAST(n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) >= {threshold}
"""


Q29_SQL = _sql_jaccard_pairs(0.8)


# --------------------------------------------------------------------------
# q30 — SimHash signatures
# --------------------------------------------------------------------------
def q30_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return simhash_docs(t["documents"], "doc_id", "text")


_simhash_terms = "\n     + ".join(
    f"CASE WHEN 2 * len(list_filter(toks, t -> ((('0x' || substr(md5(t), 1, 4))::INT) & {1 << b}) != 0)) > len(toks) THEN {1 << b} ELSE 0 END"
    for b in range(16)
)
Q30_SQL = f"""
WITH t AS (
  SELECT doc_id, list_distinct(regexp_split_to_array(trim(lower(text)), '\\s+')) AS toks
  FROM documents
)
SELECT doc_id,
       CAST({_simhash_terms} AS INTEGER) AS simhash
FROM t
"""


# --------------------------------------------------------------------------
# q31 — brute-force cosine top-k (ANN correctness baseline)
# --------------------------------------------------------------------------
def q31_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q31 exists as the ANN correctness ORACLE only — the exact answer the
    approximate paths (q38 ivf_topk, q32 sign-LSH) are scored against on
    test-sized corpora. It is NOT a scale path: the O(n²) theta-join is
    `max_n`-guarded and raises on corpus-sized inputs, pointing users at
    ivf_topk. Keep it in the registry so the driver can cross-check the
    exact semantics; route production similarity through q38/q32."""
    t = load_tables(spark, sf_dir)
    return cosine_topk_bruteforce(t["embeddings"], "vec_id", "embedding", k=3)


Q31_SQL = """
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd FROM embeddings
), n AS (
  SELECT vec_id, vd,
         sqrt(list_reduce(list_transform(vd, x -> x * x), (a, b) -> a + b)) AS nrm
  FROM v
), pairs AS (
  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
         list_reduce(list_transform(range(1, len(a.vd) + 1), i -> a.vd[i] * b.vd[i]), (x, y) -> x + y)
           / (a.nrm * b.nrm) AS cos_raw
  FROM n a JOIN n b ON a.vec_id <> b.vec_id
), ranked AS (
  SELECT vec_id, neighbor_id, cos_raw,
         row_number() OVER (PARTITION BY vec_id ORDER BY cos_raw DESC, neighbor_id ASC) AS rn
  FROM pairs
)
SELECT vec_id, neighbor_id, round(cos_raw, 6) AS cos_sim, rn
FROM ranked WHERE rn <= 3
"""


# --------------------------------------------------------------------------
# q32 — sign-LSH bucketed near-dup embedding pairs (the ANN scale path)
# --------------------------------------------------------------------------
_LSH_BITS = 6
_LSH_MIN_COS = 0.25  # corpus embeddings are near-orthogonal (max cos ≈ 0.51)


def q32_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    pairs, pins = sign_lsh_pairs(
        t["embeddings"], "vec_id", "embedding", bits=_LSH_BITS, min_cos=_LSH_MIN_COS
    )
    return materialize_release(pairs, *pins)


_bucket_terms = " + ".join(
    f"CASE WHEN embedding[{i + 1}] > 0 THEN {1 << i} ELSE 0 END" for i in range(_LSH_BITS)
)
Q32_SQL = f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd,
         CAST({_bucket_terms} AS INTEGER) AS bucket
  FROM embeddings
), n AS (
  SELECT vec_id, vd, bucket,
         sqrt(list_reduce(list_transform(vd, x -> x * x), (a, b) -> a + b)) AS nrm
  FROM v
), pairs AS (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.bucket AS bucket,
         round(list_reduce(list_transform(range(1, len(a.vd) + 1), i -> a.vd[i] * b.vd[i]), (x, y) -> x + y)
           / (a.nrm * b.nrm), 6) AS cos_sim
  FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT a_id, b_id, bucket, cos_sim FROM pairs WHERE cos_sim >= {_LSH_MIN_COS}
"""


# --------------------------------------------------------------------------
# q38 — IVF approximate nearest neighbors (the ANN index path)
# --------------------------------------------------------------------------
_IVF_C = 16  # centroids (deterministic seed: smallest vec_ids)
_IVF_PROBE = 2


def q38_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    nbrs, pins = ivf_topk(
        t["embeddings"], "vec_id", "embedding",
        k=3, n_centroids=_IVF_C, n_probe=_IVF_PROBE,
    )
    return materialize_release(nbrs, *pins)


_SQL_DOT = (
    "list_reduce(list_transform(range(1, len({a}) + 1), i -> {a}[i] * {b}[i]),"
    " (x, y) -> x + y)"
)

Q38_SQL = f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd FROM embeddings
), n AS (
  SELECT vec_id, vd,
         sqrt(list_reduce(list_transform(vd, x -> x * x), (a, b) -> a + b)) AS nrm
  FROM v
), cents AS (
  SELECT vec_id AS cent_id, vd AS c_vec, nrm AS c_nrm FROM n
  ORDER BY vec_id LIMIT {_IVF_C}
), scored AS (
  SELECT n.vec_id, n.vd, n.nrm, c.cent_id,
         {_SQL_DOT.format(a='n.vd', b='c.c_vec')} / (n.nrm * c.c_nrm) AS c_cos
  FROM n CROSS JOIN cents c
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY c_cos DESC, cent_id ASC) AS crn
  FROM scored
), cells AS (
  SELECT cent_id AS cell, vec_id AS m_id, vd AS m_vec, nrm AS m_nrm
  FROM ranked WHERE crn = 1
), probes AS (
  SELECT vec_id, vd AS q_vec, nrm AS q_nrm, cent_id AS cell
  FROM ranked WHERE crn <= {_IVF_PROBE}
), cand AS (
  SELECT p.vec_id, c.m_id,
         {_SQL_DOT.format(a='p.q_vec', b='c.m_vec')} / (p.q_nrm * c.m_nrm) AS cos_raw
  FROM probes p JOIN cells c USING (cell)
  WHERE p.vec_id <> c.m_id
), out AS (
  SELECT vec_id, m_id AS neighbor_id, cos_raw,
         row_number() OVER (PARTITION BY vec_id ORDER BY cos_raw DESC, m_id ASC) AS rn
  FROM cand
)
SELECT vec_id, neighbor_id, round(cos_raw, 6) AS cos_sim, rn
FROM out WHERE rn <= 3
"""


# --------------------------------------------------------------------------
# q33 — multimodal decode plumbing (mapInPandas, deterministic stub kernel)
# --------------------------------------------------------------------------
def q33_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload column → Arrow-batched Python decode stage. The stub
    kernel is deterministic arithmetic on the bytes, so even the Python
    stage is oracle-checkable."""
    t = load_tables(spark, sf_dir)
    media = t["documents"].select(
        F.col("doc_id"), F.encode(F.col("text"), "UTF-8").alias("payload")
    )
    # mapInPandas parallelism follows the scan's partitioning. Deliberately
    # NOT repartitioned here: the payload volume, not the row count, sizes a
    # decode stage, and this corpus is a few MB — fanning 5000 tiny rows
    # across 32 Python workers costs more in worker/Arrow setup than the
    # decode itself (measured 2.3s → 6-8s in the bench). At real multimodal
    # scale the scan arrives in many splits and parallelism is free.
    return decode_media(media, "doc_id", "payload")


Q33_SQL = """
WITH b AS (SELECT doc_id, CAST(strlen(text) AS INTEGER) AS byte_len, md5(text) AS content_md5 FROM documents)
SELECT doc_id AS media_id, byte_len, content_md5,
       CAST(64 + byte_len % 577 AS INTEGER) AS width,
       CAST(64 + byte_len % 433 AS INTEGER) AS height,
       CAST(1 + byte_len % 7 AS INTEGER) AS n_frames,
       'fake/' || CAST(byte_len % 3 AS VARCHAR) AS format
FROM b
"""


# --------------------------------------------------------------------------
# q36 — salted two-stage aggregation (skew-mitigation pattern; same answer
#        as the plain aggregate, which is exactly what the oracle checks)
# --------------------------------------------------------------------------
def q36_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key mitigation: pre-aggregate on (key, salt), then merge. Decimal
    partials merge exactly, so the result is identical to a one-stage agg."""
    t = load_tables(spark, sf_dir)
    ev = t["events"]
    from .common import DEC

    salted = (
        ev.withColumn("_salt", F.pmod(F.col("event_id"), F.lit(16)))
        .groupBy("event_type", "_salt")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(F.col("value").cast(DEC)).alias("_sv"),
        )
    )
    return (
        salted.groupBy("event_type")
        .agg(
            F.sum("_n").alias("n"),
            F.sum("_sv").cast("double").alias("sum_value"),
        )
    )


Q36_SQL = f"""
SELECT event_type, count(*) AS n, {sql_dsum('value')} AS sum_value
FROM events GROUP BY event_type
"""


# --------------------------------------------------------------------------
# q37 — approximate distinct (HLL; no SQL oracle — estimator-specific)
# --------------------------------------------------------------------------
def q37_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return (
        t["events"]
        .groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id").alias("approx_users"),
            F.percentile_approx("value", 0.5).alias("p50_value"),
        )
    )




# --------------------------------------------------------------------------
# q51 — token frequency top-k (posexplode + global top-k)
# --------------------------------------------------------------------------
def q51_token_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-20 tokens: explode the (cheap) token arrays, one
    count shuffle, then a single-partition top-k of the (tiny) distinct-token
    aggregate — never a global sort of the raw postings."""
    t = load_tables(spark, sf_dir)
    toks = t["documents"].select(
        F.explode(tokenize(F.col("text"))).alias("tok")
    )
    return (
        toks.filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("tok").asc())
        .limit(20)
    )


Q51_SQL = r"""
SELECT tok, count(*) AS n
FROM (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok FROM documents)
WHERE tok <> ''
GROUP BY tok ORDER BY n DESC, tok ASC LIMIT 20
"""


# --------------------------------------------------------------------------
# q72 — duplicate-cluster labeling (connected components over near-dup pairs)
# --------------------------------------------------------------------------
def q72_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q29 near-dup pair graph collapsed to per-document cluster labels
    (component = min doc_id reachable) by iterative min-label propagation
    (operators/components.py). The oracle states the same fixpoint as a
    recursive CTE over the identical SQL pair set."""
    from ..operators.components import connected_components

    t = load_tables(spark, sf_dir)
    pairs, pins = ngram_jaccard_pairs(
        t["documents"], "doc_id", "text", threshold=0.8, max_df=_J_MAX_DF
    )
    return materialize_release(connected_components(pairs, "a_id", "b_id"), *pins)


Q72_SQL = f"""
WITH RECURSIVE
pairs AS (SELECT a_id, b_id FROM ({Q29_SQL}) q),
sym AS (
  SELECT a_id AS sa, b_id AS sb FROM pairs
  UNION
  SELECT b_id, a_id FROM pairs
),
reach(node, lab) AS (
  SELECT sa, sa FROM sym
  UNION
  SELECT s.sb, r.lab FROM reach r JOIN sym s ON s.sa = r.node
)
SELECT node, min(lab) AS component FROM reach GROUP BY node
"""


# --------------------------------------------------------------------------
# q73 — corpus cleaning: HTML strip + PII redaction (training-data prep)
# --------------------------------------------------------------------------
def q73_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Narrow per-row regexp pipeline (functions/text.py::strip_html /
    redact_pii) — zero shuffle, codegen'd, pushdown-transparent. The dirty
    payload is constructed deterministically from base columns so both
    engines clean the identical string."""
    from ..functions.text import redact_pii, strip_html

    t = load_tables(spark, sf_dir)
    sid = F.col("doc_id").cast("string")
    dirty = F.concat(
        F.lit('<p class="x">'),
        F.col("text"),
        F.lit("</p> &amp; contact: user"),
        sid,
        F.lit("@example.com or 10.0.0.1 tel +1 (555) 0101-"),
        sid,
    )
    return t["documents"].select(
        "doc_id", redact_pii(strip_html(dirty)).alias("clean_text")
    )


Q73_SQL = """
WITH dirty AS (
  SELECT doc_id,
         '<p class="x">' || text || '</p> &amp; contact: user' || CAST(doc_id AS VARCHAR)
         || '@example.com or 10.0.0.1 tel +1 (555) 0101-' || CAST(doc_id AS VARCHAR) AS d
  FROM documents
), stripped AS (
  SELECT doc_id,
         trim(regexp_replace(
           replace(replace(replace(replace(replace(
             regexp_replace(d, '<[^>]*>', ' ', 'g'),
             '&amp;', '&'), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
           '\\s+', ' ', 'g')) AS s
  FROM dirty
)
SELECT doc_id,
       regexp_replace(
         regexp_replace(
           regexp_replace(s, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           '([0-9]{1,3}\\.){3}[0-9]{1,3}', '<IP>', 'g'),
         '\\+?[0-9][0-9()\\- ]{7,}[0-9]', '<PHONE>', 'g') AS clean_text
FROM stripped
"""


# --------------------------------------------------------------------------
# q75 — deterministic stratified sampling (hash rate + per-stratum quota)
# --------------------------------------------------------------------------
def q75_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible corpus sampling — the scale-correct alternative to RNG
    sampling (re-runs, retries, and engines all agree):

    - rate gate: keep a doc when md5(doc_id) mod 100 < rate% (narrow
      predicate, pushes through everything, no shuffle);
    - quota cap: ≤ K docs per language, chosen by hash order (one
      row_number window per stratum — deterministic tie-free total order).
    """
    t = load_tables(spark, sf_dir)
    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10).cast(
        "bigint"
    )
    rated = t["documents"].withColumn("_h", h).filter(F.pmod(F.col("_h"), 100) < 40)
    w = Window.partitionBy("lang").orderBy("_h", "doc_id")
    return (
        rated.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 20)
        .select("doc_id", "lang", F.col("_rn").alias("stratum_rank"))
    )


Q75_SQL = """
WITH rated AS (
  SELECT doc_id, lang,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
  FROM documents
  WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 40
)
SELECT doc_id, lang, stratum_rank
FROM (
  SELECT doc_id, lang,
         CAST(row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS INT) AS stratum_rank
  FROM rated
)
WHERE stratum_rank <= 20
"""


# --------------------------------------------------------------------------
# q77 — token-budget sharding (sequence packing for training runs)
# --------------------------------------------------------------------------
def _bucketed_token_prefix_sum(documents: DataFrame) -> DataFrame:
    """Distributed EXCLUSIVE prefix sum of per-document token counts over
    the deterministic (md5(doc_id), doc_id) total order — the scale
    machinery shared by q77 (shard packing) and q97 (sequence spans).

    The first md5 byte defines 256 contiguous, deterministic ranges of
    the total order (lowercase-hex lexicographic order == numeric order
    of the prefix, so bucket b holds exactly one contiguous slice) — no
    sampling, no repartitionByRange nondeterminism. The cumsum decomposes
    into (a) a per-bucket window (256-way parallel shuffle on the bucket
    id) plus (b) a per-bucket token-total offset — a 256-row aggregate
    whose own running sum is driver-trivial and broadcast back.

    Returns (doc_id, n_toks, off) with ``off`` = tokens strictly before
    this document in the global order.
    """
    toks = F.size(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).cast("bigint")
    h = F.md5(F.col("doc_id").cast("string"))
    d = documents.select("doc_id", toks.alias("n_toks"), h.alias("_h"))
    d = d.withColumn("_bucket", F.conv(F.substring("_h", 1, 2), 16, 10).cast("int"))
    win = (
        Window.partitionBy("_bucket")
        .orderBy("_h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    within = d.withColumn("_wprev", F.coalesce(F.sum("n_toks").over(win), F.lit(0)))
    totals = d.groupBy("_bucket").agg(F.sum("n_toks").alias("_btot"))
    offw = Window.orderBy("_bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.withColumn(
        "_off", F.coalesce(F.sum("_btot").over(offw), F.lit(0))
    ).select("_bucket", "_off")
    return within.join(F.broadcast(offsets), "_bucket").select(
        "doc_id", "n_toks", (F.col("_off") + F.col("_wprev")).alias("off")
    )


def q77_token_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign documents to ~fixed-token-budget shards: deterministic hash
    order → running token cumsum → shard = floor(preceding_tokens/budget).
    A doc that straddles a boundary goes to the earlier shard (standard
    approximate packing).

    Distributed packing (round 4 — replaces the former global
    ``Window.orderBy`` single-partition sort): see
    ``_bucketed_token_prefix_sum`` — identical assignment to the
    sequential form, which the oracle pins; only the tiny offsets
    aggregate ever passes through a single partition. Two narrow scans
    of (doc_id, text) instead of a cache — cheaper than pinning the
    corpus at scale."""
    budget = 2000
    t = load_tables(spark, sf_dir)
    return _bucketed_token_prefix_sum(t["documents"]).select(
        "doc_id",
        "n_toks",
        F.floor(F.col("off") / budget).cast("int").alias("shard_id"),
    )


Q77_SQL = r"""
WITH d AS (
  SELECT doc_id,
         CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS BIGINT) AS n_toks,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents
)
SELECT doc_id, n_toks,
       CAST(floor(COALESCE(SUM(n_toks) OVER (
         ORDER BY h, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
       ), 0) / 2000.0) AS INT) AS shard_id
FROM d
"""


# --------------------------------------------------------------------------
# q78 — train/eval decontamination (cross-corpus near-dup sweep)
# --------------------------------------------------------------------------
def q78_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents split deterministically (md5 parity) into a "train" and an
    "eval" corpus; ngram_jaccard_cross finds eval docs leaked into train.
    Only cross-corpus pairs are ever generated — the train side never pays
    its own quadratic fan-out."""
    from ..operators.dedup import ngram_jaccard_cross

    t = load_tables(spark, sf_dir)
    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10).cast(
        "bigint"
    )
    d = t["documents"].withColumn("_par", F.pmod(h, 2))
    train = d.filter(F.col("_par") == 0).drop("_par")
    testc = d.filter(F.col("_par") == 1).drop("_par")
    pairs, pins = ngram_jaccard_cross(
        train, testc, "doc_id", "text", threshold=0.8, max_df=_J_MAX_DF
    )
    return materialize_release(pairs, *pins)


Q78_SQL = f"""
WITH parity AS (
  SELECT *, CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 2 AS par
  FROM documents
),
words AS (SELECT doc_id, par, regexp_split_to_array(trim(lower(text)), '\\s+') AS w FROM parity),
sh AS (
  SELECT doc_id, par, list_distinct(list_transform(range(1, len(w)-1),
         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
  FROM words WHERE len(w) >= 3
),
posts0 AS (
  SELECT doc_id, par, {_sql_md5_60bit('shingle')} AS sh_h
  FROM (SELECT doc_id, par, unnest(sh) AS shingle FROM sh)
),
freq AS (SELECT sh_h FROM posts0 GROUP BY sh_h HAVING count(*) <= {_J_MAX_DF}),
posts AS (SELECT p.doc_id, p.par, p.sh_h FROM posts0 p JOIN freq USING (sh_h)),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM posts GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_inter
  FROM posts a JOIN posts b ON a.sh_h = b.sh_h
  WHERE a.par = 0 AND b.par = 1
  GROUP BY a.doc_id, b.doc_id
)
SELECT a_id, b_id,
       CAST(n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) AS jaccard
FROM inter
JOIN sizes sa ON a_id = sa.doc_id
JOIN sizes sb ON b_id = sb.doc_id
WHERE CAST(n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) >= 0.8
"""


# --------------------------------------------------------------------------
# q81 — corpus preparation pipeline (the LLM-training-data flow, composed)
# --------------------------------------------------------------------------
def q81_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus preparation as ONE job: language gate
    (q24's lang_id) → quality gate (q25's score ≥ 0.45) → exact dedup
    (q23's digest, min-doc_id keeper) → near-dup cluster pruning (q29's
    Jaccard pairs → q72's connected components, keep each cluster's min) →
    per-doc annotations (token count, quality, q27's fingerprint).

    Each stage is an individually-oracled operator; composing them is the
    point — a real pipeline runs this as one lazy plan, with the gates
    filtering BEFORE the expensive pair generation (the same filter-before-
    fetch discipline as the fleet plan). Shuffle ledger: the load-balancing
    doc_id repartition ahead of the annotation stage, one window by
    content digest, one shuffle per Jaccard index build, the CC labeling —
    everything else is narrow.
    """
    from pyspark import StorageLevel
    from pyspark.sql import Window

    from ..functions.text import doc_fingerprint64
    from ..operators.components import connected_components

    t = load_tables(spark, sf_dir)
    # Spread the narrow annotation stage across cores BEFORE the heavy
    # per-doc expressions: a small corpus arrives as one parquet split, and
    # without this the lang/quality gates run single-threaded ahead of the
    # window exchange (measured 10.6 s -> ~1 s on the 10x clone). Same
    # precedent as _doc_shingles' pre-explode spread.
    spread = t["documents"].repartition(
        spark.sparkContext.defaultParallelism, F.col("doc_id")
    )
    staged = spread.select(
        "doc_id", "text", tokenize(F.col("text")).alias("toks")
    )
    feats = quality_features(F.col("text"), F.col("toks"))
    annotated = staged.select(
        "doc_id",
        "text",
        lang_id(F.col("toks")).alias("pred_lang"),
        feats["n_tokens"].alias("n_tokens"),
        feats["quality_score"].alias("quality_score"),
    )
    gated = annotated.filter(
        (F.col("pred_lang") == "en") & (F.col("quality_score") >= 0.45)
    )
    w = Window.partitionBy(F.md5(F.col("text"))).orderBy("doc_id")
    kept = (
        gated.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )  # consumed by the pair build AND the final projection
    pairs, pins = ngram_jaccard_pairs(
        kept.select("doc_id", "text"), "doc_id", "text",
        threshold=0.8, max_df=_J_MAX_DF,
    )
    comp = connected_components(pairs, "a_id", "b_id")
    out = kept.join(comp, kept["doc_id"] == comp["node"], "left").filter(
        F.col("node").isNull() | (F.col("component") == F.col("doc_id"))
    )
    res = out.select(
        "doc_id",
        "pred_lang",
        "n_tokens",
        "quality_score",
        doc_fingerprint64(F.col("text")).alias("fp64"),
    )
    return materialize_release(res, kept, *pins)


Q81_SQL = f"""
WITH t0 AS (
  SELECT doc_id, text, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks FROM documents
), base AS (
  SELECT doc_id, text, toks,
         CAST(length(text) AS BIGINT) AS n_chars,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS BIGINT) AS alpha_chars,
         CAST({_sql_stop_count('en')} AS BIGINT) AS s_en,
         CAST({_sql_stop_count('de')} AS BIGINT) AS s_de,
         CAST({_sql_stop_count('es')} AS BIGINT) AS s_es,
         CAST({_sql_stop_count('fr')} AS BIGINT) AS s_fr
  FROM t0
), scored AS (
  SELECT doc_id, text, n_tokens,
         CASE WHEN greatest(s_en, s_de, s_es, s_fr) <= 0 THEN 'unknown'
              WHEN s_en = greatest(s_en, s_de, s_es, s_fr) THEN 'en'
              WHEN s_de = greatest(s_en, s_de, s_es, s_fr) THEN 'de'
              WHEN s_es = greatest(s_en, s_de, s_es, s_fr) THEN 'es'
              WHEN s_fr = greatest(s_en, s_de, s_es, s_fr) THEN 'fr'
              ELSE 'unknown' END AS pred_lang,
         least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.4
           + (CASE WHEN n_tokens > 0 THEN CAST(s_en AS DOUBLE) / CAST(n_tokens AS DOUBLE) ELSE 0.0 END) * 0.3
           + (CASE WHEN n_chars > 0 THEN CAST(alpha_chars AS DOUBLE) / CAST(n_chars AS DOUBLE) ELSE 0.0 END) * 0.3
           AS quality_score
  FROM base
), gated AS (
  SELECT * FROM scored WHERE pred_lang = 'en' AND quality_score >= 0.45
), ek AS (
  SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM gated
), kept AS (
  SELECT doc_id, text, pred_lang, n_tokens, quality_score FROM ek WHERE rn = 1
), words AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS w FROM kept
), sh AS (
  SELECT doc_id, list_distinct(list_transform(range(1, len(w)-1),
         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh FROM words WHERE len(w) >= 3
), posts0 AS (
  SELECT doc_id, {_sql_md5_60bit('shingle')} AS sh_h
  FROM (SELECT doc_id, unnest(sh) AS shingle FROM sh)
), freq AS (SELECT sh_h FROM posts0 GROUP BY sh_h HAVING count(*) <= {_J_MAX_DF}),
posts AS (SELECT p.doc_id, p.sh_h FROM posts0 p JOIN freq USING (sh_h)),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM posts GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_inter
  FROM posts a JOIN posts b ON a.sh_h = b.sh_h AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
), pairs AS (
  SELECT a_id, b_id FROM inter
  JOIN sizes sa ON a_id = sa.doc_id
  JOIN sizes sb ON b_id = sb.doc_id
  WHERE CAST(n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) >= 0.8
), sym AS (
  SELECT a_id AS sa, b_id AS sb FROM pairs
  UNION
  SELECT b_id, a_id FROM pairs
), reach AS (
  WITH RECURSIVE walk(node, lab) AS (
    SELECT sa, sa FROM sym
    UNION
    SELECT s.sb, r.lab FROM walk r JOIN sym s ON s.sa = r.node
  ) SELECT node, min(lab) AS component FROM walk GROUP BY node
)
SELECT k.doc_id AS doc_id, k.pred_lang AS pred_lang, k.n_tokens AS n_tokens,
       k.quality_score AS quality_score,
       CAST(('0x' || substr(md5(lower(regexp_replace(trim(k.text), '\\s+', ' ', 'g'))), 1, 15)) AS BIGINT) AS fp64
FROM kept k LEFT JOIN reach r ON r.node = k.doc_id
WHERE r.node IS NULL OR r.component = k.doc_id
"""


# --------------------------------------------------------------------------
# q82 — embedding-cosine near-dup DEDUP (pairs → clusters → keepers)
# --------------------------------------------------------------------------
_EDUP_MIN_COS = 0.95


def q82_embedding_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate DEDUP, not just pair listing: q32's
    sign-LSH candidate pairs at cos ≥ 0.95 collapse to clusters (q72's
    connected components) and each vector reports its keeper (the
    cluster's min vec_id; singletons keep themselves). The standard
    semantic-dedup step of an embedding-indexed corpus: O(n) bucket
    assign, in-bucket pair join, iterative min-label — never all-pairs."""
    from ..operators.components import connected_components

    t = load_tables(spark, sf_dir)
    emb = t["embeddings"]
    pairs, pins = sign_lsh_pairs(
        emb, "vec_id", "embedding", bits=_LSH_BITS, min_cos=_EDUP_MIN_COS
    )
    comp = connected_components(pairs, "a_id", "b_id")
    res = emb.select("vec_id").join(
        comp, emb["vec_id"] == comp["node"], "left"
    ).select(
        "vec_id",
        F.coalesce(F.col("component"), F.col("vec_id")).alias("keeper_id"),
        (F.col("component").isNull() | (F.col("component") == F.col("vec_id"))).alias(
            "is_keeper"
        ),
    )
    return materialize_release(res, *pins)


Q82_SQL = f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd,
         CAST({_bucket_terms} AS INTEGER) AS bucket
  FROM embeddings
), n AS (
  SELECT vec_id, vd, bucket,
         sqrt(list_reduce(list_transform(vd, x -> x * x), (a, b) -> a + b)) AS nrm
  FROM v
), pairs AS (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         round(list_reduce(list_transform(range(1, len(a.vd) + 1), i -> a.vd[i] * b.vd[i]), (x, y) -> x + y)
           / (a.nrm * b.nrm), 6) AS cos_sim
  FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
), kept AS (
  SELECT a_id, b_id FROM pairs WHERE cos_sim >= {_EDUP_MIN_COS}
), sym AS (
  SELECT a_id AS sa, b_id AS sb FROM kept
  UNION
  SELECT b_id, a_id FROM kept
), comp AS (
  WITH RECURSIVE walk(node, lab) AS (
    SELECT sa, sa FROM sym
    UNION
    SELECT s.sb, r.lab FROM walk r JOIN sym s ON s.sa = r.node
  ) SELECT node, min(lab) AS component FROM walk GROUP BY node
)
SELECT e.vec_id AS vec_id,
       coalesce(c.component, e.vec_id) AS keeper_id,
       (c.node IS NULL OR c.component = e.vec_id) AS is_keeper
FROM embeddings e LEFT JOIN comp c ON c.node = e.vec_id
"""


# --------------------------------------------------------------------------
# q84 — repetition-based quality metrics (Gopher-style filters)
# --------------------------------------------------------------------------
def q84_repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition metrics, the standard Gopher/MassiveText-
    style quality gates for training corpora: duplicate-word fraction,
    duplicate-2-gram fraction, and the frequency share of the most common
    2-gram.

    Deliberately computed as pure per-row ARRAY expressions (array_distinct,
    transform, filter, array_max) — zero shuffle, whole-stage codegen,
    perfectly scan-parallel at any corpus size. The top-gram count is
    O(distinct·len) per row, bounded by document length — the cost lives
    with the row, never with the corpus (the alternative explode→groupBy
    would pay two corpus-wide shuffles for the same numbers).
    """
    t = load_tables(spark, sf_dir)
    w = tokenize(F.col("text"))
    d = t["documents"].select("doc_id", w.alias("w")).filter(F.size("w") >= 2)
    # word 2-grams (element_at is 1-based). Guarded total: if Catalyst
    # collapses this projection into the filter stage, the expression may
    # evaluate on 1-token rows where the unguarded sequence would run
    # descending into element_at(w, 0).
    grams = F.when(
        F.size("w") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("w") - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(F.col("w"), i), F.element_at(F.col("w"), i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    d = d.withColumn("g", grams)
    top_cnt = F.array_max(
        F.transform(
            F.array_distinct("g"),
            lambda x: F.size(F.filter("g", lambda y: y == x)),
        )
    )
    n_words = F.size("w").cast("bigint")
    n_grams = F.size("g").cast("bigint")
    return d.select(
        "doc_id",
        n_words.alias("n_words"),
        F.round(1.0 - F.size(F.array_distinct("w")) / n_words, 6).alias(
            "dup_word_frac"
        ),
        F.round(1.0 - F.size(F.array_distinct("g")) / n_grams, 6).alias(
            "dup_2gram_frac"
        ),
        F.round(top_cnt / n_grams, 6).alias("top_2gram_frac"),
    )


Q84_SQL = r"""
WITH words AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w
  FROM documents
), base AS (
  SELECT doc_id, w,
         list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]) AS g
  FROM words WHERE len(w) >= 2
), gram_counts AS (
  SELECT doc_id, gram, count(*) AS cnt
  FROM (SELECT doc_id, unnest(g) AS gram FROM base)
  GROUP BY doc_id, gram
), tops AS (
  SELECT doc_id, max(cnt) AS top_cnt FROM gram_counts GROUP BY doc_id
)
SELECT b.doc_id AS doc_id,
       CAST(len(b.w) AS BIGINT) AS n_words,
       round(1.0 - CAST(len(list_distinct(b.w)) AS DOUBLE) / len(b.w), 6) AS dup_word_frac,
       round(1.0 - CAST(len(list_distinct(b.g)) AS DOUBLE) / len(b.g), 6) AS dup_2gram_frac,
       round(CAST(t.top_cnt AS DOUBLE) / len(b.g), 6) AS top_2gram_frac
FROM base b JOIN tops t USING (doc_id)
"""


# --------------------------------------------------------------------------
# q85 — context-window chunking (doc → fixed-token chunks with stride)
# --------------------------------------------------------------------------
def q85_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split each document into fixed-size token chunks with overlap — the
    standard context-window preparation step before tokenizer packing
    (chunk k covers tokens [k·stride, k·stride + size)).

    Narrow until the final posexplode (per-row chunk_starts array →
    slice), no shuffle at all: chunking is embarrassingly parallel and
    must stay that way at corpus scale. The chunk text re-joins with
    single spaces (tokens already split on whitespace), so the output is
    byte-deterministic; chunk_md5 gives downstream exact-dedup a ready
    key without re-reading the text.
    """
    size, stride = 64, 48  # tokens per chunk / start-to-start distance
    t = load_tables(spark, sf_dir)
    d = t["documents"].select(
        "doc_id", tokenize(F.col("text")).alias("w")
    ).filter(F.size("w") >= 1)
    # Start offsets 0, stride, 2·stride… while start < n_tokens; the last
    # chunk may be short (never empty). Guarded total (see q84/q86): on a
    # collapsed empty-array row the unguarded sequence would run descending.
    n_chunks = F.floor((F.size("w") - 1) / stride) + 1
    starts = F.when(
        F.size("w") >= 1,
        F.transform(
            F.sequence(F.lit(0), (n_chunks - 1).cast("int")), lambda k: k * stride
        ),
    ).otherwise(F.array().cast("array<int>"))
    e = d.select(
        "doc_id",
        F.size("w").cast("bigint").alias("n_doc_tokens"),
        F.col("w"),
        F.posexplode(starts).alias("chunk_id", "start"),
    )
    chunk = F.slice(F.col("w"), F.col("start") + 1, size)
    return e.select(
        "doc_id",
        F.col("chunk_id").cast("int").alias("chunk_id"),
        "n_doc_tokens",
        F.size(chunk).cast("bigint").alias("n_chunk_tokens"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_md5"),
    )


Q85_SQL = r"""
WITH words AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w
  FROM documents
), d AS (
  SELECT doc_id, w, len(w) AS n,
         CAST(floor((len(w) - 1) / 48) AS INT) + 1 AS n_chunks
  FROM words WHERE len(w) >= 1
), e AS (
  SELECT doc_id, n, w, CAST(k.k AS INT) AS chunk_id, k.k * 48 AS start
  FROM d, LATERAL (SELECT unnest(range(n_chunks)) AS k) k
)
SELECT doc_id, chunk_id, CAST(n AS BIGINT) AS n_doc_tokens,
       CAST(len(list_slice(w, start + 1, start + 64)) AS BIGINT) AS n_chunk_tokens,
       md5(list_aggregate(list_slice(w, start + 1, start + 64), 'string_agg', ' ')) AS chunk_md5
FROM e
"""


# --------------------------------------------------------------------------
# q86 — exact 13-gram collision decontamination (GPT-3-style)
# --------------------------------------------------------------------------
def q86_ngram_collision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-n-gram contamination check, the classic eval-leakage sweep:
    an eval document is contaminated when ANY of its 13-grams appears
    verbatim anywhere in the train corpus. Complements q78's
    Jaccard-threshold decontamination with the exact-collision method.

    Plan: per-doc distinct md5'd 13-grams (narrow fold) → train side
    reduced to a DISTINCT gram set → equi-join eval postings against it on
    the hash → per-eval-doc collision counts, zero-collision docs kept by
    left join. Three key-bounded shuffles (train distinct, gram join, doc
    agg); the join key is a 32-char digest, never document text, so
    shuffle width is independent of document size — the property that
    keeps this runnable across a 100 TB train corpus.
    """
    n = 13
    t = load_tables(spark, sf_dir)
    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10).cast(
        "bigint"
    )
    w = tokenize(F.col("text"))
    # Total expression (guarded, not relying on the row filter): Catalyst
    # may collapse the filter and projection into one stage and evaluate
    # this for short docs too, where the unguarded sequence would run
    # DESCENDING through 0 and slice(…, 0) throws.
    grams = F.when(
        F.size("w") >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size("w") - (n - 1)),
                lambda i: F.md5(F.concat_ws(" ", F.slice(F.col("w"), i, n))),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    d = (
        t["documents"]
        .select("doc_id", w.alias("w"), F.pmod(h, 2).alias("_par"))
        .filter(F.size("w") >= n)
        .select("doc_id", "_par", grams.alias("grams"))
    )
    train_grams = (
        d.filter(F.col("_par") == 0)
        .select(F.explode("grams").alias("g"))
        .distinct()
    )
    eval_docs = d.filter(F.col("_par") == 1).select(
        "doc_id", F.size("grams").cast("bigint").alias("n_grams"), "grams"
    )
    eval_posts = eval_docs.select("doc_id", F.explode("grams").alias("g"))
    hits = (
        eval_posts.join(train_grams, "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_collided"))
    )
    return (
        eval_docs.select("doc_id", "n_grams")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce("n_collided", F.lit(0)).cast("bigint").alias("n_collided"),
            F.round(
                F.coalesce("n_collided", F.lit(0)) / F.col("n_grams"), 6
            ).alias("collision_frac"),
        )
    )


Q86_SQL = r"""
WITH d AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 2 AS par
  FROM documents
), g AS (
  SELECT doc_id, par,
         list_distinct(list_transform(range(1, len(w) - 11),
           i -> md5(list_aggregate(list_slice(w, i, i + 12), 'string_agg', ' ')))) AS grams
  FROM d WHERE len(w) >= 13
), train_grams AS (
  SELECT DISTINCT unnest(grams) AS gr FROM g WHERE par = 0
), eval_docs AS (
  SELECT doc_id, CAST(len(grams) AS BIGINT) AS n_grams, grams FROM g WHERE par = 1
), posts AS (
  SELECT doc_id, unnest(grams) AS gr FROM eval_docs
), hits AS (
  SELECT p.doc_id, count(*) AS n_collided
  FROM posts p JOIN train_grams t ON p.gr = t.gr
  GROUP BY p.doc_id
)
SELECT e.doc_id AS doc_id, e.n_grams AS n_grams,
       CAST(COALESCE(h.n_collided, 0) AS BIGINT) AS n_collided,
       round(CAST(COALESCE(h.n_collided, 0) AS DOUBLE) / e.n_grams, 6) AS collision_frac
FROM eval_docs e LEFT JOIN hits h ON e.doc_id = h.doc_id
"""


# --------------------------------------------------------------------------
# q87 — corpus mixture re-weighting (per-language epoch factors)
# --------------------------------------------------------------------------
#: Target mixture: epochs per document by language. >1 upsamples by
#: repetition, <1 downsamples by hash-rate — the standard way a training
#: run rebalances a corpus toward a target distribution.
MIXTURE_WEIGHTS = {"en": 1.5, "de": 0.8, "es": 0.6, "fr": 0.6, "zh": 0.3}


def q87_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mixture re-weighting: each document appears
    ``floor(w)`` times plus one more when its hash draw falls under
    ``frac(w)`` (w = its language's epoch weight). Upsampling is realized
    as replicated rows with a ``copy_id`` — what a sequence-packing stage
    downstream actually consumes — and the hash draw makes the sample
    identical across retries, engines, and cluster sizes (no RNG).

    Fully narrow: a when-ladder for the weight, one md5 per doc, one
    explode for the copies. No shuffle at any corpus size.
    """
    t = load_tables(spark, sf_dir)
    w_expr = F.lit(0.0)
    for lang, wt in MIXTURE_WEIGHTS.items():
        w_expr = F.when(F.col("lang") == lang, F.lit(float(wt))).otherwise(w_expr)
    draw = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("bigint")
        % 1_000_000
    ) / 1_000_000.0
    n_copies = (
        F.floor("w").cast("int")
        + (F.col("draw") < (F.col("w") - F.floor("w"))).cast("int")
    )
    d = (
        t["documents"]
        .select("doc_id", "lang", w_expr.alias("w"), draw.alias("draw"))
        .withColumn("n_copies", n_copies)
        .filter(F.col("n_copies") >= 1)
    )
    return d.select(
        "doc_id",
        "lang",
        "n_copies",
        F.explode(F.sequence(F.lit(1), F.col("n_copies"))).alias("copy_id"),
    )


_mix_cases = " ".join(
    f"WHEN lang = '{lang}' THEN {wt}" for lang, wt in MIXTURE_WEIGHTS.items()
)
Q87_SQL = f"""
WITH d AS (
  SELECT doc_id, lang,
         CASE {_mix_cases} ELSE 0.0 END AS w,
         (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000000)
           / 1000000.0 AS draw
  FROM documents
), c AS (
  SELECT doc_id, lang,
         CAST(floor(w) AS INT)
           + CASE WHEN draw < w - floor(w) THEN 1 ELSE 0 END AS n_copies
  FROM d
)
SELECT doc_id, lang, n_copies, CAST(k.k + 1 AS INT) AS copy_id
FROM c, LATERAL (SELECT unnest(range(n_copies)) AS k) k
WHERE n_copies >= 1
"""


# --------------------------------------------------------------------------
# q88 — per-label embedding centroids (IVF training / cluster-quality stats)
# --------------------------------------------------------------------------
def q88_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding space, long format: one row per
    (label, dim) with the component mean, vector count, and mean L2 norm —
    the primitive behind IVF coarse-quantizer training and embedding
    cluster-quality dashboards.

    One posexplode (64 rows per vector) + one groupBy (label, dim) with
    map-side partial aggregation — the same shape at any corpus size.
    Component sums run through decimal(25,6) (plans/common.py) so the
    distributed partial-agg order can't wiggle the low float bits vs the
    oracle.
    """
    t = load_tables(spark, sf_dir)
    e = t["embeddings"].select(
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("vd"),
    )
    norm = F.sqrt(F.aggregate("vd", F.lit(0.0), lambda a, x: a + x * x))
    ex = e.select(
        "label", norm.alias("nrm"), F.posexplode("vd").alias("dim", "v")
    )
    return (
        ex.groupBy("label", "dim")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            dsum(F.col("v")).alias("s"),
            dsum(F.col("nrm")).alias("sn"),
        )
        .select(
            "label",
            "dim",
            F.col("n_vecs").cast("bigint").alias("n_vecs"),
            F.round(F.col("s") / F.col("n_vecs"), 6).alias("centroid"),
            F.round(F.col("sn") / F.col("n_vecs"), 6).alias("mean_norm"),
        )
    )


Q88_SQL = f"""
WITH v AS (
  SELECT label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
  FROM embeddings
), n AS (
  SELECT label, vd,
         sqrt(list_reduce(list_transform(vd, x -> x * x), (a, b) -> a + b)) AS nrm
  FROM v
), ex AS (
  SELECT label, nrm, CAST(d.i - 1 AS INT) AS dim, vd[d.i] AS val
  FROM n, LATERAL (SELECT unnest(range(1, len(vd) + 1)) AS i) d
)
SELECT label, dim, CAST(count(*) AS BIGINT) AS n_vecs,
       round({sql_dsum('val')} / count(*), 6) AS centroid,
       round({sql_dsum('nrm')} / count(*), 6) AS mean_norm
FROM ex GROUP BY label, dim
"""


# --------------------------------------------------------------------------
# q89 — unigram-frequency quality signals (CCNet-style common-ness filter)
# --------------------------------------------------------------------------
def q89_unigram_commonness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram-frequency statistics against the corpus's own
    unigram table: mean token probability and the rarest token's
    probability — the algebraic core of a CCNet-style LM/perplexity
    quality filter (documents full of corpus-rare tokens score low and
    are triage candidates).

    Deliberately log-free: transcendental functions are not bit-portable
    across engines, so the oracle-gated form stays in exact integer
    arithmetic until one final IEEE division — sum of bigint counts per
    doc, divided by n_toks·total once. Two key-bounded shuffles (unigram
    count, per-doc agg) plus one token-keyed join and a 1-row scalar
    broadcast for the corpus total.
    """
    from pyspark import StorageLevel

    t = load_tables(spark, sf_dir)
    # Persist the exploded token stream: it feeds BOTH the unigram build
    # and the join probe side, and without the pin the scan+tokenize+
    # explode subtree executes twice (the same single-materialization
    # discipline as the dedup operators' shingle index).
    toks = (
        t["documents"]
        .select("doc_id", F.explode(tokenize(F.col("text"))).alias("tok"))
        .filter(F.col("tok") != "")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    total = freq.agg(F.sum("cnt").alias("total"))
    per_doc = (
        toks.join(freq, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_toks"),
            F.sum("cnt").alias("sum_cnt"),
            F.min("cnt").alias("min_cnt"),
        )
    )
    res = per_doc.join(F.broadcast(total)).select(
        "doc_id",
        "n_toks",
        F.round(
            F.col("sum_cnt").cast("double")
            / (F.col("n_toks") * F.col("total")).cast("double"),
            9,
        ).alias("mean_tok_p"),
        F.round(
            F.col("min_cnt").cast("double") / F.col("total").cast("double"), 9
        ).alias("min_tok_p"),
    )
    return materialize_release(res, toks)


Q89_SQL = r"""
WITH toks AS (
  SELECT doc_id, tok
  FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
        FROM documents)
  WHERE tok <> ''
), freq AS (
  SELECT tok, count(*) AS cnt FROM toks GROUP BY tok
), total AS (
  SELECT SUM(cnt) AS total FROM freq
), per_doc AS (
  SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_toks,
         SUM(f.cnt) AS sum_cnt, MIN(f.cnt) AS min_cnt
  FROM toks t JOIN freq f USING (tok)
  GROUP BY t.doc_id
)
SELECT doc_id, n_toks,
       round(CAST(sum_cnt AS DOUBLE) / CAST(n_toks * total AS DOUBLE), 9) AS mean_tok_p,
       round(CAST(min_cnt AS DOUBLE) / CAST(total AS DOUBLE), 9) AS min_tok_p
FROM per_doc, total
"""


# --------------------------------------------------------------------------
# q90 — Bloom-filter decontamination (portable bit layout, exact oracle)
# --------------------------------------------------------------------------
#: Bloom geometry: m bits across 32-bit words, k md5-derived hash probes.
#: m = 2^20 over the sf-scale train gram counts keeps the false-positive
#: rate negligible but NON-zero by design — the oracle reproduces the same
#: bit layout, so even false positives compare exactly.
BLOOM_M_BITS = 1 << 20
BLOOM_K = 3


def q90_bloom_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q86's exact 13-gram decontamination sweep, re-run through a Bloom
    filter — the memory shape that survives a 100 TB train corpus. The
    train side collapses from a distinct-gram table (unbounded) to a fixed
    ``m``-bit array; the probe side never joins against train grams at
    all, only against the ≤ m/32-row bit-word table.

    Spark 4 does not expose ``bloom_filter_agg`` in the public function
    registry, so the filter is built from first principles in pure column
    ops — which buys something the built-in could never give: the k bit
    positions are md5-derived (``md5(gram_digest || ':' || j) % m``), so
    DuckDB computes the IDENTICAL bit array and the oracle is exact
    including false positives. Word layout is 32 bits/word to keep every
    mask positive in both engines' BIGINT (no sign-bit portability edge).

    Shuffle ledger: train distinct (digest-keyed), bit_or groupBy on ≤
    32 Ki word ids (tiny), per-(doc, gram) probe agg, per-doc agg. The
    word-table probe join is broadcast — the whole train corpus's
    footprint in the probe stage is 128 KiB of bitmap.
    """
    n = 13
    t = load_tables(spark, sf_dir)
    par = F.pmod(
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10).cast(
            "bigint"
        ),
        2,
    )
    w = tokenize(F.col("text"))
    # The >= n guard looks redundant next to the row filter below, but is
    # NOT dead: Catalyst may collapse the filter and projection into one
    # stage and evaluate this expression for short docs too, where the
    # unguarded sequence would run DESCENDING through 0 and slice() throws
    # (same rationale documented at q86).
    grams = F.when(
        F.size("w") >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size("w") - (n - 1)),
                lambda i: F.md5(F.concat_ws(" ", F.slice(F.col("w"), i, n))),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    from pyspark import StorageLevel

    # Persist the gram build: it feeds BOTH the train bitmap and the eval
    # probe side, and the md5 13-gram transform is the expensive subtree —
    # without the pin each branch re-tokenizes the whole corpus.
    d = (
        t["documents"]
        .select("doc_id", w.alias("w"), par.alias("_par"))
        .filter(F.size("w") >= n)
        .select("doc_id", "_par", grams.alias("grams"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    def _pos(g, j: int):
        raw = F.conv(
            F.substring(F.md5(F.concat(g, F.lit(f":{j}"))), 1, 15), 16, 10
        ).cast("bigint")
        return raw % F.lit(BLOOM_M_BITS)

    train = d.filter(F.col("_par") == 0).select(F.explode("grams").alias("g")).distinct()
    bits = train.select(
        F.explode(F.array(*[_pos(F.col("g"), j) for j in range(BLOOM_K)])).alias("pos")
    )
    words = (
        bits.select(
            (F.col("pos") / 32).cast("bigint").alias("word"),
            # shiftleft's amount arg is int-only in the python API — the
            # column-valued shift has to go through the SQL expression.
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))").alias("m"),
        )
        .groupBy("word")
        .agg(F.bit_or("m").alias("mask"))
    )

    eval_docs = d.filter(F.col("_par") == 1).select(
        "doc_id", F.size("grams").cast("bigint").alias("n_grams"), "grams"
    )
    probes = eval_docs.select(
        "doc_id", F.explode("grams").alias("g")
    ).select(
        "doc_id",
        "g",
        F.posexplode(F.array(*[_pos(F.col("g"), j) for j in range(BLOOM_K)])).alias(
            "j", "pos"
        ),
    ).select(
        "doc_id",
        "g",
        (F.col("pos") / 32).cast("bigint").alias("word"),
        (F.col("pos") % 32).cast("int").alias("bit"),
    )
    hit = F.when(
        F.col("mask").isNotNull()
        & (F.expr("shiftright(mask, bit)").bitwiseAND(F.lit(1)) == 1),
        F.lit(1),
    ).otherwise(F.lit(0))
    per_gram = (
        probes.join(F.broadcast(words), "word", "left")
        .select("doc_id", "g", hit.alias("hit"))
        .groupBy("doc_id", "g")
        .agg(F.sum("hit").alias("k_hits"))
    )
    flagged = (
        per_gram.groupBy("doc_id")
        .agg(
            F.sum((F.col("k_hits") == BLOOM_K).cast("int")).cast("bigint").alias(
                "n_flagged"
            )
        )
    )
    res = (
        eval_docs.select("doc_id", "n_grams")
        .join(flagged, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce("n_flagged", F.lit(0)).cast("bigint").alias("n_flagged"),
            F.round(F.coalesce("n_flagged", F.lit(0)) / F.col("n_grams"), 6).alias(
                "flagged_frac"
            ),
        )
    )
    return materialize_release(res, d)


def _sql_bloom_pos(g: str, j: int) -> str:
    return (
        f"CAST(('0x' || substr(md5({g} || ':{j}'), 1, 15)) AS BIGINT) % {BLOOM_M_BITS}"
    )


Q90_SQL = rf"""
WITH d AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 2 AS par
  FROM documents
), g AS (
  SELECT doc_id, par,
         list_distinct(list_transform(range(1, len(w) - 11),
           i -> md5(list_aggregate(list_slice(w, i, i + 12), 'string_agg', ' ')))) AS grams
  FROM d WHERE len(w) >= 13
), train AS (
  SELECT DISTINCT unnest(grams) AS gr FROM g WHERE par = 0
), bits AS (
  SELECT {_sql_bloom_pos('gr', 0)} AS pos FROM train
  UNION ALL SELECT {_sql_bloom_pos('gr', 1)} FROM train
  UNION ALL SELECT {_sql_bloom_pos('gr', 2)} FROM train
), words AS (
  SELECT pos // 32 AS word, bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS mask
  FROM bits GROUP BY pos // 32
), eval_docs AS (
  SELECT doc_id, CAST(len(grams) AS BIGINT) AS n_grams, grams FROM g WHERE par = 1
), probes AS (
  SELECT doc_id, gr, p.pos // 32 AS word, CAST(p.pos % 32 AS INT) AS bit
  FROM (SELECT doc_id, unnest(grams) AS gr FROM eval_docs),
       LATERAL (
         SELECT unnest([{_sql_bloom_pos('gr', 0)}, {_sql_bloom_pos('gr', 1)},
                        {_sql_bloom_pos('gr', 2)}]) AS pos
       ) p
), per_gram AS (
  SELECT doc_id, gr,
         SUM(CASE WHEN w.mask IS NOT NULL AND ((w.mask >> bit) & 1) = 1
                  THEN 1 ELSE 0 END) AS k_hits
  FROM probes LEFT JOIN words w USING (word)
  GROUP BY doc_id, gr
), flagged AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN k_hits = {BLOOM_K} THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
  FROM per_gram GROUP BY doc_id
)
SELECT e.doc_id AS doc_id, e.n_grams AS n_grams,
       CAST(COALESCE(f.n_flagged, 0) AS BIGINT) AS n_flagged,
       round(CAST(COALESCE(f.n_flagged, 0) AS DOUBLE) / e.n_grams, 6) AS flagged_frac
FROM eval_docs e LEFT JOIN flagged f ON e.doc_id = f.doc_id
"""


# --------------------------------------------------------------------------
# q91 — segment-level corpus dedup (CCNet paragraph-hash dedup)
# --------------------------------------------------------------------------
#: Segment width in tokens. CCNet dedups on paragraph hashes; this corpus
#: has no newlines, so the segmentation unit is a fixed 10-token span —
#: the same hash-keep-first-occurrence machinery either way.
SEGMENT_TOKENS = 10


def q91_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document dedup, CCNet-style: split every document into
    fixed-width token segments, hash each, and keep only the corpus-wide
    FIRST occurrence of every distinct segment (ordered by doc_id, then
    position). Documents come back rebuilt from their surviving segments
    plus retention stats — the op that strips boilerplate headers/footers
    repeated across millions of pages without dropping whole documents.

    Shape (see `operators/dedup.py::segment_dedup`): one narrow
    segmentation pass, one key-bounded shuffle on the segment hash, one
    shuffle back on doc_id; re-assembly is per-document
    ``array_sort(collect_list(struct))``, never a global sort.
    """
    t = load_tables(spark, sf_dir)
    return segment_dedup(t["documents"], "doc_id", "text", SEGMENT_TOKENS)


Q91_SQL = rf"""
WITH d AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w FROM documents
), seg AS (
  SELECT doc_id,
         CAST((s.i - 1) / {SEGMENT_TOKENS} AS INT) AS seg_idx,
         list_aggregate(list_slice(w, s.i, s.i + {SEGMENT_TOKENS - 1}),
                        'string_agg', ' ') AS seg
  FROM d, LATERAL (
    SELECT unnest(range(1, len(w) + 1, {SEGMENT_TOKENS})) AS i
  ) s
), ranked AS (
  SELECT doc_id, seg_idx, seg,
         row_number() OVER (PARTITION BY md5(seg) ORDER BY doc_id, seg_idx) AS rn
  FROM seg
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_segs,
       CAST(count(*) FILTER (WHERE rn = 1) AS BIGINT) AS n_kept,
       round(CAST(count(*) FILTER (WHERE rn = 1) AS DOUBLE) / count(*), 6) AS kept_frac,
       COALESCE(string_agg(seg, ' ' ORDER BY seg_idx) FILTER (WHERE rn = 1), '') AS kept_text
FROM ranked GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# q92 — TF-IDF top terms per document
# --------------------------------------------------------------------------
def q92_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document — the classic keyword/topic signal
    a curation pipeline uses for domain tagging and mixture audits.

    Log-free IDF: the score is defined as ``tf · N / df`` rather than the
    textbook ``tf · log(N/df)``. A transcendental log is not bit-portable
    across engines; the rational form is (integer products under 2^53
    divide bit-identically in IEEE), keeps the same monotonicity in each
    factor, and so stays exactly oracle-comparable.

    Shuffles: tf groupBy (doc, term), df groupBy term (derived FROM tf —
    the token stream is scanned once), term-keyed join, per-doc top-k
    window. N arrives as a 1-row broadcast.
    """
    t = load_tables(spark, sf_dir)
    from pyspark import StorageLevel

    toks = (
        t["documents"]
        .select("doc_id", F.explode(tokenize(F.col("text"))).alias("term"))
        .filter(F.col("term") != "")
    )
    # Persist tf: it is both the probe side of the term join AND the input
    # dfreq derives from — unpinned, the scan+tokenize+groupBy subtree
    # would execute twice (q89's single-materialization discipline).
    tf = (
        toks.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    nd = t["documents"].agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .join(F.broadcast(nd))
        .withColumn(
            "score",
            (F.col("tf") * F.col("n_docs")).cast("double") / F.col("df").cast("double"),
        )
    )
    win = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("term").asc())
    res = (
        scored.withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") <= 3)
        .select(
            "doc_id",
            "term",
            F.col("tf").cast("bigint").alias("tf"),
            F.col("df").cast("bigint").alias("df"),
            F.round("score", 6).alias("tfidf"),
            "rn",
        )
    )
    return materialize_release(res, tf)


Q92_SQL = r"""
WITH toks AS (
  SELECT doc_id, tok AS term
  FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
        FROM documents)
  WHERE tok <> ''
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
), dfreq AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), nd AS (
  SELECT count(*) AS n_docs FROM documents
), scored AS (
  SELECT t.doc_id, t.term, t.tf, d.df,
         CAST(t.tf * n.n_docs AS DOUBLE) / CAST(d.df AS DOUBLE) AS score
  FROM tf t JOIN dfreq d USING (term), nd n
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rn
  FROM scored
)
SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       round(score, 6) AS tfidf, rn
FROM ranked WHERE rn <= 3
"""


# --------------------------------------------------------------------------
# q93 — one Lloyd (k-means) refinement step over the embedding space
# --------------------------------------------------------------------------
#: Seed count for the refinement step: the k lowest-vec_id vectors.
LLOYD_K = 8


def q93_lloyd_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd iteration — the assign + re-estimate step that trains an
    IVF coarse quantizer (`operators/similarity.py::ivf_topk` consumes
    exactly this): assign every vector to its nearest seed centroid by
    squared L2, then recompute each centroid as the member mean.

    The k seeds are the lowest-``vec_id`` vectors (deterministic, no RNG)
    and arrive broadcast; assignment is a broadcast nested-loop over k=8
    rows — n·k narrow comparisons, NO shuffle until the per-vector argmin,
    which is a map-side-combinable ``min(struct(dist, seed_id, vec))``
    groupBy, not a window. Distances fold left-to-right so the oracle's
    ``list_reduce`` reproduces them bit-for-bit; the (dist, seed_id)
    struct prefix makes ties deterministic.

    Iterating this to convergence is the driver-loop pattern documented in
    `operators/components.py` (checkpoint per round); one gated step keeps
    the oracle exact.
    """
    t = load_tables(spark, sf_dir)
    e = t["embeddings"].select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("vd"),
    )
    seeds = (
        e.orderBy("vec_id")
        .limit(LLOYD_K)
        .select(F.col("vec_id").alias("seed_id"), F.col("vd").alias("sd"))
    )
    dist = F.aggregate(
        F.zip_with("vd", "sd", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    best = (
        e.join(F.broadcast(seeds))
        .select("vec_id", F.struct(dist.alias("dist"), "seed_id", "vd").alias("cand"))
        .groupBy("vec_id")
        .agg(F.min("cand").alias("best"))
        .select(
            F.col("best.seed_id").alias("cluster_id"),
            F.col("best.vd").alias("vd"),
        )
    )
    ex = best.select("cluster_id", F.posexplode("vd").alias("dim", "v"))
    return (
        ex.groupBy("cluster_id", "dim")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_vecs"), dsum(F.col("v")).alias("s"))
        .select(
            "cluster_id",
            "dim",
            "n_vecs",
            F.round(F.col("s") / F.col("n_vecs"), 6).alias("centroid"),
        )
    )


Q93_SQL = f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
  FROM embeddings
), seeds AS (
  SELECT vec_id AS seed_id, vd AS sd FROM v ORDER BY vec_id LIMIT {LLOYD_K}
), pairs AS (
  SELECT vec_id, vd, seed_id,
         list_reduce(
           list_transform(range(1, len(vd) + 1),
                          i -> (vd[i] - sd[i]) * (vd[i] - sd[i])),
           (a, b) -> a + b) AS dist
  FROM v CROSS JOIN seeds
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, seed_id) AS rn
  FROM pairs
), assigned AS (
  SELECT seed_id AS cluster_id, vd FROM ranked WHERE rn = 1
), ex AS (
  SELECT cluster_id, CAST(d.i - 1 AS INT) AS dim, vd[d.i] AS v
  FROM assigned, LATERAL (SELECT unnest(range(1, len(vd) + 1)) AS i) d
)
SELECT cluster_id, dim, CAST(count(*) AS BIGINT) AS n_vecs,
       round({sql_dsum('v')} / count(*), 6) AS centroid
FROM ex GROUP BY cluster_id, dim
"""


# --------------------------------------------------------------------------
# q94 — k-means training, two fixed Lloyd iterations (IVF index build)
# --------------------------------------------------------------------------
def q94_kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`operators/similarity.py::kmeans_fit` pinned to exactly TWO Lloyd
    iterations — the full iterative trainer is convergence-stopped (not
    SQL-expressible), but a fixed iteration count unrolls into a finite
    CTE chain, so the driver-loop pattern itself gets an exact external
    oracle: seeds → assign → decimal-exact means → assign → means.

    Output is long-format like q93: (cluster_id, dim, n_members,
    centroid), n_members from the final assignment; clusters that lose
    every member keep their previous centroid with n_members = 0.
    """
    from ..operators.similarity import kmeans_fit

    t = load_tables(spark, sf_dir)
    fitted = kmeans_fit(
        t["embeddings"], "vec_id", "embedding", k=LLOYD_K, max_iter=2, tol=0.0
    )
    return fitted.select(
        "cluster_id",
        "n_members",
        F.posexplode("centroid").alias("dim", "c"),
    ).select("cluster_id", "dim", "n_members", F.round("c", 6).alias("centroid"))


def _sql_lloyd_round(cent_table: str, a_name: str, c_name: str) -> str:
    """One unrolled Lloyd round: assign against ``cent_table``, then
    decimal-exact component means rebuilt into centroid arrays (empty
    clusters keep their previous centroid)."""
    return f"""{a_name}_pairs AS (
  SELECT vec_id, vd, cluster_id,
         list_reduce(
           list_transform(range(1, len(vd) + 1),
                          i -> (vd[i] - cvec[i]) * (vd[i] - cvec[i])),
           (a, b) -> a + b) AS dist
  FROM v CROSS JOIN {cent_table}
), {a_name} AS (
  SELECT cluster_id, vd FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster_id) AS rn
    FROM {a_name}_pairs
  ) WHERE rn = 1
), {c_name}_means AS (
  SELECT cluster_id, CAST(d.i - 1 AS INT) AS dim,
         CAST(SUM(CAST(vd[d.i] AS DECIMAL(25,6))) AS DOUBLE) / count(*) AS m,
         count(*) AS n
  FROM {a_name}, LATERAL (SELECT unnest(range(1, len(vd) + 1)) AS i) d
  GROUP BY cluster_id, d.i
), {c_name}_arr AS (
  SELECT cluster_id, list(m ORDER BY dim) AS cvec, min(n) AS n_members
  FROM {c_name}_means GROUP BY cluster_id
), {c_name} AS (
  SELECT p.cluster_id, COALESCE(a.cvec, p.cvec) AS cvec,
         COALESCE(a.n_members, 0) AS n_members
  FROM {cent_table} p LEFT JOIN {c_name}_arr a USING (cluster_id)
)"""


Q94_SQL = f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
  FROM embeddings
), cents0 AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster_id, vd AS cvec
  FROM v ORDER BY vec_id LIMIT {LLOYD_K}
), {_sql_lloyd_round('cents0', 'a1', 'c1')},
{_sql_lloyd_round('c1', 'a2', 'c2')}
SELECT cluster_id, CAST(d.i - 1 AS INT) AS dim,
       CAST(n_members AS BIGINT) AS n_members,
       round(cvec[d.i], 6) AS centroid
FROM c2, LATERAL (SELECT unnest(range(1, len(cvec) + 1)) AS i) d
"""


# --------------------------------------------------------------------------
# q95 — quality-decile stratification (distributed exact ranking)
# --------------------------------------------------------------------------
def q95_quality_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank every document by its q25 quality score and aggregate per
    decile — the sampling-pyramid view a curation run uses to set
    quality cutoffs ("drop the bottom two deciles, upsample the top").

    Deciles are RANK-based (``floor((rank-1)·10/N)``), not
    interpolated-threshold-based: the rank is pure integer arithmetic
    over a total order (score, doc_id), so it is exactly portable, where
    Spark's percentile() and DuckDB's quantile_cont interpolate with
    differently-ordered float ops and can disagree in the low bits right
    at a cutoff.

    The global rank is ``dist_rank`` (plans/common.py), NOT a
    single-partition window: a range repartition at the session's
    shuffle width, per-partition running counts and a broadcast
    partition-offset table — every corpus-sized stage parallel.
    """
    from .common import dist_rank

    t = load_tables(spark, sf_dir)
    d = t["documents"]
    staged = d.select("doc_id", "text", tokenize(F.col("text")).alias("toks"))
    score = quality_features(F.col("text"), F.col("toks"))["quality_score"]
    scored = staged.select("doc_id", score.alias("q"))
    ranked, pin = dist_rank(scored, ["q", "doc_id"])
    # n_total from the pinned frame — not a second scan of the documents
    nrow = pin.agg(F.count(F.lit(1)).alias("n_total"))
    # Integer division only: float `/` then a bigint cast diverges across
    # engines (Spark truncates the cast, DuckDB rounds it).
    decile = (F.expr("((rank - 1) * 10) DIV n_total") + 1).cast("int")
    res = (
        ranked.join(F.broadcast(nrow))
        .select(decile.alias("decile"), "q")
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.round(F.min("q"), 6).alias("min_score"),
            F.round(F.max("q"), 6).alias("max_score"),
            F.round(dsum(F.col("q")) / F.count(F.lit(1)), 6).alias("mean_score"),
        )
    )
    return materialize_release(res, pin)


Q95_SQL = rf"""
WITH t0 AS (
  SELECT doc_id, text, regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM documents
), base AS (
  SELECT doc_id,
         CAST(length(text) AS BIGINT) AS n_chars,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS BIGINT) AS alpha_chars,
         CAST({_sql_stop_count('en')} AS BIGINT) AS stop_en
  FROM t0
), feats AS (
  SELECT doc_id,
         least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.4
         + CASE WHEN n_tokens > 0 THEN CAST(stop_en AS DOUBLE) / CAST(n_tokens AS DOUBLE) ELSE 0.0 END * 0.3
         + CASE WHEN n_chars > 0 THEN CAST(alpha_chars AS DOUBLE) / CAST(n_chars AS DOUBLE) ELSE 0.0 END * 0.3
           AS q
  FROM base
), ranked AS (
  SELECT q, row_number() OVER (ORDER BY q, doc_id) AS rank,
         count(*) OVER () AS n_total
  FROM feats
)
SELECT CAST(((rank - 1) * 10) // n_total + 1 AS INT) AS decile,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(min(q), 6) AS min_score,
       round(max(q), 6) AS max_score,
       round({sql_dsum('q')} / count(*), 6) AS mean_score
FROM ranked GROUP BY 1
"""


# --------------------------------------------------------------------------
# q96 — cross-source duplication leakage matrix
# --------------------------------------------------------------------------
def q96_source_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which sources copy from which: for every exact-duplicate content
    digest that appears in ≥2 distinct sources, count the digest toward
    each unordered source pair. The curation dashboard that tells you
    "src3 is 80% mirrored from src0 — dedup them together, and weight
    provenance accordingly".

    Pair generation is per-digest over the digest's distinct SOURCE set
    (≤ n_sources per digest, a constant), never over the documents — one
    digest groupBy plus a narrow combination explode, so the shuffle is
    digest-keyed and the pair fan-out is bounded by n_sources² per
    digest regardless of how many documents share the content.
    """
    t = load_tables(spark, sf_dir)
    per_dig = (
        t["documents"]
        .select(F.md5("text").alias("dig"), "source")
        .groupBy("dig")
        .agg(F.array_sort(F.collect_set("source")).alias("srcs"))
        .filter(F.size("srcs") >= 2)
    )
    pairs = per_dig.select(
        F.explode(
            F.flatten(
                F.transform(
                    "srcs",
                    lambda x, i: F.transform(
                        F.slice(F.col("srcs"), i + 2, F.size("srcs")),
                        lambda y: F.struct(x.alias("src_a"), y.alias("src_b")),
                    ),
                )
            )
        ).alias("p")
    )
    return (
        pairs.select("p.src_a", "p.src_b")
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared_digests"))
    )


Q96_SQL = """
WITH per_dig AS (
  SELECT md5(text) AS dig, list_sort(list_distinct(list(source))) AS srcs
  FROM documents GROUP BY md5(text)
  HAVING len(list_distinct(list(source))) >= 2
)
SELECT srcs[i.i] AS src_a, srcs[j.j] AS src_b,
       CAST(count(*) AS BIGINT) AS n_shared_digests
FROM per_dig,
     LATERAL (SELECT unnest(range(1, len(srcs) + 1)) AS i) i,
     LATERAL (SELECT unnest(range(1, len(srcs) + 1)) AS j) j
WHERE j.j > i.i
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# q97 — training-sequence span map (the step after q77's sharding)
# --------------------------------------------------------------------------
#: Packed sequence length in tokens (a typical context-window size).
SEQ_TOKENS = 2048


def q97_sequence_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack the token stream into fixed ``SEQ_TOKENS`` training sequences
    and emit the (document, sequence) span map — for each document, which
    sequences its tokens land in and at what offsets. This is the
    attention-boundary metadata a packed-pretraining dataloader consumes
    (sequence k holds tokens [tok_start, tok_start+n_in) of doc d).

    Shares q77's distributed exclusive prefix sum
    (``_bucketed_token_prefix_sum`` — md5-prefix buckets + offset
    broadcast, no single-partition sort of the corpus), then a narrow
    explode over each doc's touched sequence range. Every expression is
    integer arithmetic (DIV / greatest / least), so the
    sequential-window oracle matches bit-for-bit.
    """
    t = load_tables(spark, sf_dir)
    packed = _bucketed_token_prefix_sum(t["documents"]).filter(F.col("n_toks") > 0)
    spans = packed.select(
        "doc_id",
        "n_toks",
        "off",
        F.explode(
            F.sequence(
                F.expr(f"off DIV {SEQ_TOKENS}"),
                F.expr(f"(off + n_toks - 1) DIV {SEQ_TOKENS}"),
            )
        ).alias("seq_id"),
    )
    seg_start = F.greatest(F.col("off"), F.col("seq_id") * SEQ_TOKENS)
    seg_end = F.least(F.col("off") + F.col("n_toks"), (F.col("seq_id") + 1) * SEQ_TOKENS)
    return spans.select(
        "doc_id",
        F.col("seq_id").cast("bigint").alias("seq_id"),
        (seg_start - F.col("off")).cast("bigint").alias("tok_start"),
        (seg_end - seg_start).cast("bigint").alias("n_in_seq"),
    )


Q97_SQL = rf"""
WITH d AS (
  SELECT doc_id,
         CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS BIGINT) AS n_toks,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents
), p AS (
  SELECT doc_id, n_toks,
         CAST(COALESCE(SUM(n_toks) OVER (
           ORDER BY h, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS BIGINT) AS off
  FROM d
), e AS (
  SELECT doc_id, n_toks, off,
         off // {SEQ_TOKENS} AS s0,
         (off + n_toks - 1) // {SEQ_TOKENS} AS s1
  FROM p WHERE n_toks > 0
)
SELECT doc_id,
       CAST(s.s AS BIGINT) AS seq_id,
       CAST(greatest(off, s.s * {SEQ_TOKENS}) - off AS BIGINT) AS tok_start,
       CAST(least(off + n_toks, (s.s + 1) * {SEQ_TOKENS})
            - greatest(off, s.s * {SEQ_TOKENS}) AS BIGINT) AS n_in_seq
FROM e, LATERAL (SELECT unnest(range(s0, s1 + 1)) AS s) s
"""


# --------------------------------------------------------------------------
# q98 — BPE merge-step pair counting (tokenizer-training primitive)
# --------------------------------------------------------------------------
def q98_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE training step: count adjacent character-pair occurrences
    across the corpus and rank the merge candidates — the inner loop of
    byte-pair-encoding tokenizer training (the full trainer repeats this
    with the winning pair merged; one step is the oracle-gated unit, the
    same fixed-iteration discipline as q94).

    Cost discipline: pair generation runs over the DISTINCT token
    vocabulary weighted by token frequency, not over every token
    occurrence — the expensive explode is vocab-sized (sublinear in the
    corpus), and the only corpus-sized shuffle is the initial token
    count. Top-20 with a (count desc, pair asc) total order.
    """
    t = load_tables(spark, sf_dir)
    vocab = (
        t["documents"]
        .select(F.explode(tokenize(F.col("text"))).alias("tok"))
        .filter(F.length("tok") >= 2)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    pairs = vocab.select(
        "freq",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("tok") - 1),
                lambda i: F.col("tok").substr(i, F.lit(2)),
            )
        ).alias("pair"),
    )
    counted = pairs.groupBy("pair").agg(
        F.sum("freq").cast("bigint").alias("n_occurrences")
    )
    win = Window.orderBy(F.col("n_occurrences").desc(), F.col("pair").asc())
    return (
        counted.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= 20)
        .select("pair", "n_occurrences", "rank")
    )


Q98_SQL = r"""
WITH toks AS (
  SELECT tok FROM (
    SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
    FROM documents
  ) WHERE length(tok) >= 2
), vocab AS (
  SELECT tok, count(*) AS freq FROM toks GROUP BY tok
), pairs AS (
  SELECT substr(tok, CAST(i.i AS INT), 2) AS pair, freq
  FROM vocab, LATERAL (SELECT unnest(range(1, length(tok))) AS i) i
), counted AS (
  SELECT pair, CAST(SUM(freq) AS BIGINT) AS n_occurrences
  FROM pairs GROUP BY pair
)
SELECT pair, n_occurrences,
       CAST(row_number() OVER (ORDER BY n_occurrences DESC, pair ASC) AS INT) AS rank
FROM counted
QUALIFY rank <= 20
"""


# --------------------------------------------------------------------------
# q99 — corpus datasheet (the "data card" metric block, one pass)
# --------------------------------------------------------------------------
def q99_corpus_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-level numbers a dataset card reports — document and
    token totals, exact-duplicate rate, language spread, quality mean,
    median length — computed in ONE aggregation over one scan (the q79
    single-pass profiling discipline applied to the documents corpus).

    Long format (metric, value): every metric is a column of the same
    Aggregate node, so adding a metric never adds a scan. Counts surface
    as doubles for the uniform value column; means go through
    decimal-exact sums; the median uses the exact interpolated
    percentile (q43's portability note: round 6 pins the low bits).
    """
    t = load_tables(spark, sf_dir)
    staged = t["documents"].select(
        "doc_id",
        "lang",
        F.md5("text").alias("dig"),
        F.size(tokenize(F.col("text"))).cast("bigint").alias("n_toks"),
        quality_features(F.col("text"), tokenize(F.col("text")))[
            "quality_score"
        ].alias("q"),
    )
    agg = staged.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_toks").alias("total_tokens"),
        F.countDistinct("dig").alias("distinct_digests"),
        F.countDistinct("lang").alias("n_langs"),
        dsum(F.col("q")).alias("q_sum"),
        F.expr("percentile(n_toks, 0.5)").alias("p50_toks"),
    )
    m = F.create_map(
        F.lit("n_docs"), F.col("n_docs").cast("double"),
        F.lit("total_tokens"), F.col("total_tokens").cast("double"),
        F.lit("distinct_digests"), F.col("distinct_digests").cast("double"),
        # n_docs = 0 (empty corpus / empty partition range) must yield
        # NULL metrics, not a divide-by-zero job failure.
        F.lit("dup_frac"),
        F.when(
            F.col("n_docs") > 0,
            F.round(1.0 - F.col("distinct_digests") / F.col("n_docs"), 6),
        ),
        F.lit("n_langs"), F.col("n_langs").cast("double"),
        F.lit("mean_quality"),
        F.when(F.col("n_docs") > 0, F.round(F.col("q_sum") / F.col("n_docs"), 6)),
        F.lit("p50_tokens"), F.round("p50_toks", 6),
    )
    return agg.select(F.explode(m).alias("metric", "value"))


Q99_SQL = rf"""
WITH t0 AS (
  SELECT doc_id, lang, text, md5(text) AS dig,
         regexp_split_to_array(trim(lower(text)), '\s+') AS toks
  FROM documents
), base AS (
  SELECT doc_id, lang, dig,
         CAST(len(toks) AS BIGINT) AS n_toks,
         CAST(length(text) AS BIGINT) AS n_chars,
         CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS BIGINT) AS alpha_chars,
         CAST({_sql_stop_count('en')} AS BIGINT) AS stop_en
  FROM t0
), staged AS (
  SELECT doc_id, lang, dig, n_toks,
         least(CAST(n_toks AS DOUBLE) / 100.0, 1.0) * 0.4
         + CASE WHEN n_toks > 0 THEN CAST(stop_en AS DOUBLE) / CAST(n_toks AS DOUBLE) ELSE 0.0 END * 0.3
         + CASE WHEN n_chars > 0 THEN CAST(alpha_chars AS DOUBLE) / CAST(n_chars AS DOUBLE) ELSE 0.0 END * 0.3 AS q
  FROM base
), agg AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         CAST(SUM(n_toks) AS DOUBLE) AS total_tokens,
         CAST(count(DISTINCT dig) AS DOUBLE) AS distinct_digests,
         CAST(count(DISTINCT lang) AS DOUBLE) AS n_langs,
         {sql_dsum('q')} AS q_sum,
         quantile_cont(n_toks, 0.5) AS p50_toks
  FROM staged
)
SELECT u.metric AS metric, u.value AS value FROM agg, LATERAL (
  SELECT unnest(['n_docs', 'total_tokens', 'distinct_digests', 'dup_frac',
                 'n_langs', 'mean_quality', 'p50_tokens']) AS metric,
         unnest([n_docs, total_tokens, distinct_digests,
                 CASE WHEN n_docs > 0 THEN round(1.0 - distinct_digests / n_docs, 6) END,
                 n_langs,
                 CASE WHEN n_docs > 0 THEN round(q_sum / n_docs, 6) END,
                 round(p50_toks, 6)]) AS value
) u
"""


# --------------------------------------------------------------------------
# q100 — SemDeDup: semantic dedup via k-means cluster partitioning
# --------------------------------------------------------------------------
#: In-cluster cosine threshold. SemDeDup proper prunes at ~0.95+ on web
#: corpora; the synthetic embeddings are near-orthogonal (max pairwise
#: cos ≈ 0.51), so the gate pins the machinery at a threshold the corpus
#: actually crosses. The knob, not the pipeline, is corpus-specific.
_SEM_TAU = 0.35


def q100_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic near-dup
    removal that clusters FIRST and pays the quadratic pair cost only
    WITHIN clusters — k-means partition (the q94 trainer, 2 Lloyd rounds
    so the oracle unrolls exactly), per-cluster cosine pairs ≥ τ,
    connected components, one keeper (min vec_id) per duplicate group.

    This is the scale-complement to q82's sign-LSH dedup: LSH buckets by
    random hyperplanes; SemDeDup buckets by LEARNED cluster structure, so
    near-dups concentrate in the same cell and the in-cluster join is the
    whole search space. At 100 TB, k grows with the corpus (k ∝ n/target
    cluster size), keeping per-cluster pair counts bounded: assignment is
    a broadcast n·k nested loop (no shuffle until the map-side-combinable
    min(struct) argmin), the pair join shuffles on int cluster_id only,
    and CC is O(log n) pointer-jumping rounds. Nothing is ever all-pairs.

    Output: (vec_id, cluster_id, keeper_id, is_keeper) — NULL-embedding
    rows carry no geometry and are excluded (same posture as kmeans_fit).
    The gate pins k = LLOYD_K so the oracle unrolls; scale callers use
    `operators/dedup.py::semantic_dedup` directly with k sized to the
    corpus (k ∝ n keeps per-cluster pairs bounded — the scale audit runs
    it at k = √n on the 10x clone).
    """
    from ..operators.dedup import semantic_dedup

    t = load_tables(spark, sf_dir)
    return semantic_dedup(
        t["embeddings"], "vec_id", "embedding", k=LLOYD_K, tau=_SEM_TAU, iters=2
    )


Q100_SQL = f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
  FROM embeddings WHERE embedding IS NOT NULL
), cents0 AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster_id, vd AS cvec
  FROM v ORDER BY vec_id LIMIT {LLOYD_K}
), {_sql_lloyd_round('cents0', 'a1', 'c1')},
{_sql_lloyd_round('c1', 'a2', 'c2')},
f_pairs AS (
  SELECT vec_id, vd, cluster_id,
         list_reduce(
           list_transform(range(1, len(vd) + 1),
                          i -> (vd[i] - cvec[i]) * (vd[i] - cvec[i])),
           (a, b) -> a + b) AS dist
  FROM v CROSS JOIN c2
), assigned AS (
  SELECT vec_id, vd, cluster_id FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster_id) AS rn
    FROM f_pairs
  ) WHERE rn = 1
), nw AS (
  SELECT vec_id, cluster_id, vd,
         sqrt(list_reduce(list_transform(vd, x -> x * x), (a, b) -> a + b)) AS nrm
  FROM assigned
), cand AS (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         round(list_reduce(list_transform(range(1, len(a.vd) + 1), i -> a.vd[i] * b.vd[i]), (x, y) -> x + y)
           / (a.nrm * b.nrm), 6) AS cos_sim
  FROM nw a JOIN nw b ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
), kept AS (
  SELECT a_id, b_id FROM cand WHERE cos_sim >= {_SEM_TAU}
), sym AS (
  SELECT a_id AS sa, b_id AS sb FROM kept
  UNION
  SELECT b_id, a_id FROM kept
), comp AS (
  WITH RECURSIVE walk(node, lab) AS (
    SELECT sa, sa FROM sym
    UNION
    SELECT s.sb, r.lab FROM walk r JOIN sym s ON s.sa = r.node
  ) SELECT node, min(lab) AS component FROM walk GROUP BY node
)
SELECT n.vec_id AS vec_id, n.cluster_id AS cluster_id,
       coalesce(c.component, n.vec_id) AS keeper_id,
       (c.node IS NULL OR c.component = n.vec_id) AS is_keeper
FROM nw n LEFT JOIN comp c ON c.node = n.vec_id
"""


# --------------------------------------------------------------------------
# q101 — product-quantization encode (the memory-compressed ANN path)
# --------------------------------------------------------------------------
_PQ_M = 4  # subspaces (64-dim embeddings → 16 dims each)
_PQ_K = 8  # codes per subspace


def q101_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`operators/similarity.py::pq_train_encode` under the exact gate:
    product-quantization codebooks (per-subspace k-means, 2 Lloyd rounds
    so the oracle unrolls) and the per-vector code assignment. PQ is how
    billion-vector ANN fits in memory — each 64-dim vector compresses to
    ``m`` one-byte codes (here 4 bytes, 64×), and `pq_adc_topk` answers
    queries from a (sub, code) lookup table without touching a single
    float of the corpus. Training runs ONE distributed job per round for
    all subspaces together (sub is part of the group key), not a job per
    subspace."""
    from ..operators.similarity import pq_train_encode

    t = load_tables(spark, sf_dir)
    return pq_train_encode(
        t["embeddings"], "vec_id", "embedding", m=_PQ_M, k=_PQ_K, iters=2
    )


def _sql_pq_round(cent_table: str, a_name: str, c_name: str) -> str:
    """One unrolled PQ Lloyd round over ``sv`` (vec_id, sub, svd), all
    subspaces at once — `_sql_lloyd_round` with ``sub`` in every key."""
    return f"""{a_name}_pairs AS (
  SELECT s.vec_id, s.sub, s.svd, c.code,
         list_reduce(
           list_transform(range(1, len(s.svd) + 1),
                          i -> (s.svd[i] - c.cvec[i]) * (s.svd[i] - c.cvec[i])),
           (a, b) -> a + b) AS dist
  FROM sv s JOIN {cent_table} c ON c.sub = s.sub
), {a_name} AS (
  SELECT sub, code, svd FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, code) AS rn
    FROM {a_name}_pairs
  ) WHERE rn = 1
), {c_name}_means AS (
  SELECT sub, code, CAST(d.i - 1 AS INT) AS dim,
         CAST(SUM(CAST(svd[d.i] AS DECIMAL(25,6))) AS DOUBLE) / count(*) AS m
  FROM {a_name}, LATERAL (SELECT unnest(range(1, len(svd) + 1)) AS i) d
  GROUP BY sub, code, d.i
), {c_name}_arr AS (
  SELECT sub, code, list(m ORDER BY dim) AS cvec
  FROM {c_name}_means GROUP BY sub, code
), {c_name} AS (
  SELECT p.sub, p.code, COALESCE(a.cvec, p.cvec) AS cvec
  FROM {cent_table} p LEFT JOIN {c_name}_arr a ON a.sub = p.sub AND a.code = p.code
)"""


#: Shared CTE chain: NULL-filtered vectors → subspace split → seed
#: codebooks → two unrolled PQ Lloyd rounds → final code assignment.
#: Q101 selects the codes; Q107 keeps going into the ADC scoring.
_PQ_PREFIX_SQL = f"""v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
  FROM embeddings WHERE embedding IS NOT NULL
), subs AS (
  SELECT CAST(unnest(range(0, {_PQ_M})) AS INT) AS sub
), sv AS (
  SELECT vec_id, sub,
         list_slice(vd, sub * (len(vd) // {_PQ_M}) + 1,
                        (sub + 1) * (len(vd) // {_PQ_M})) AS svd
  FROM v CROSS JOIN subs
), seeds AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, vd
  FROM v ORDER BY vec_id LIMIT {_PQ_K}
), cents0 AS (
  SELECT g.sub, s.code,
         list_slice(s.vd, g.sub * (len(s.vd) // {_PQ_M}) + 1,
                          (g.sub + 1) * (len(s.vd) // {_PQ_M})) AS cvec
  FROM seeds s CROSS JOIN subs g
), {_sql_pq_round('cents0', 'pa1', 'pc1')},
{_sql_pq_round('pc1', 'pa2', 'pc2')},
enc AS (
  SELECT s.vec_id, s.sub, c.code,
         list_reduce(
           list_transform(range(1, len(s.svd) + 1),
                          i -> (s.svd[i] - c.cvec[i]) * (s.svd[i] - c.cvec[i])),
           (a, b) -> a + b) AS dist
  FROM sv s JOIN pc2 c ON c.sub = s.sub
), pq_codes AS (
  SELECT vec_id, sub, code FROM (
    SELECT vec_id, sub, code,
           row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, code) AS rn
    FROM enc
  ) WHERE rn = 1
)"""

Q101_SQL = f"""
WITH {_PQ_PREFIX_SQL}
SELECT vec_id, sub, code FROM pq_codes
"""


# --------------------------------------------------------------------------
# q102 — leakage-safe train/eval split (near-dup clusters stay together)
# --------------------------------------------------------------------------
def leakage_safe_split(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    components: DataFrame | None = None,
    threshold: float = 0.8,
    max_df: int | None = None,
    train_mod: int = 10,
    train_lt: int = 9,
) -> DataFrame:
    """Deterministic train/eval split that cannot leak near-duplicates
    across the boundary: near-dup pairs collapse to clusters (connected
    components), every document maps to its cluster representative (min
    id; singletons to themselves), and the split decision hashes the
    REPRESENTATIVE — so a whole duplicate group lands on one side by
    construction, the failure mode a plain per-doc hash split has (one
    clone in train, its twin in eval = memorized eval).

    ``components``: a precomputed ``(node, component)`` frame — pass the
    CC output the dedup pipeline (q81/q72) already produced and the
    split is ONE left join + a projection; no pair graph is rebuilt.
    When omitted, the pair graph (n-gram Jaccard at ``threshold``) and
    CC are computed here — identical output either way (pinned by a
    unit test).

    The split is the q75 md5 idiom (no RNG: retries, re-runs, and
    engines agree): md5(group_id) mod ``train_mod`` < ``train_lt`` →
    train, else eval."""
    if components is None:
        from ..operators.components import connected_components

        pairs, pins = ngram_jaccard_pairs(
            docs, id_col, text_col, threshold=threshold, max_df=max_df
        )
        components = connected_components(pairs, "a_id", "b_id")
        for p in pins:  # CC's labels are checkpointed: nothing reads them
            p.unpersist(blocking=False)
    comp = components.select("node", "component")
    base = docs.select(id_col).join(comp, docs[id_col] == comp["node"], "left")
    rep = F.coalesce(F.col("component"), F.col(id_col))
    h = F.conv(F.substring(F.md5(rep.cast("string")), 1, 15), 16, 10).cast("bigint")
    return base.select(
        id_col,
        rep.alias("group_id"),
        F.when(F.pmod(h, train_mod) < train_lt, F.lit("train"))
        .otherwise(F.lit("eval"))
        .alias("split"),
    )


def q102_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`leakage_safe_split` under the exact gate — q29's pair graph,
    q72's components, the q75 md5 split gate. At 100 TB callers pass
    ``components=`` from the dedup pipeline's existing CC output and the
    split is a projection."""
    t = load_tables(spark, sf_dir)
    return leakage_safe_split(
        t["documents"], "doc_id", "text", threshold=0.8, max_df=_J_MAX_DF
    )


Q102_SQL = f"""
WITH RECURSIVE
pairs AS (SELECT a_id, b_id FROM ({Q29_SQL}) q),
sym AS (
  SELECT a_id AS sa, b_id AS sb FROM pairs
  UNION
  SELECT b_id, a_id FROM pairs
),
reach(node, lab) AS (
  SELECT sa, sa FROM sym
  UNION
  SELECT s.sb, r.lab FROM reach r JOIN sym s ON s.sa = r.node
),
comp AS (SELECT node, min(lab) AS component FROM reach GROUP BY node)
SELECT d.doc_id AS doc_id,
       coalesce(c.component, d.doc_id) AS group_id,
       CASE WHEN CAST(('0x' || substr(md5(CAST(coalesce(c.component, d.doc_id) AS VARCHAR)), 1, 15)) AS BIGINT) % 10 < 9
            THEN 'train' ELSE 'eval' END AS split
FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
"""


# --------------------------------------------------------------------------
# q103 — Kneser-Ney n-gram count prep (KenLM-style LM training tables)
# --------------------------------------------------------------------------
def q103_kn_ngram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The count tables Kneser-Ney smoothing needs (the KenLM/CCNet
    quality-filter training path): per vocabulary word, the raw unigram
    count, the LEFT continuation count N1+(·w) — how many distinct
    predecessors the word follows, the numerator of KN's lower-order
    distribution — and the RIGHT continuation count N1+(w·) that sizes
    the backoff weight λ(w). Building these tables is the distributed,
    corpus-sized part of LM training; the smoothing arithmetic downstream
    is vocab-sized.

    Shape: one explode+groupBy for unigrams, one for bigrams (map-side
    combinable counts, the only corpus-wide shuffles), then both
    continuation counts read the ALREADY-DISTINCT bigram table — bounded
    by vocab², independent of corpus size. All-integer output, exactly
    portable."""
    from pyspark import StorageLevel

    t = load_tables(spark, sf_dir)
    d = t["documents"].select(tokenize(F.col("text")).alias("w"))
    uni = (
        d.select(F.explode("w").alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_unigram"))
    )
    # Guarded like q84: an unguarded sequence(1, size-1) evaluates
    # descending on 1-token rows if Catalyst collapses the projection.
    bigrams = F.when(
        F.size("w") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("w") - 1),
            lambda i: F.struct(
                F.element_at(F.col("w"), i).alias("u"),
                F.element_at(F.col("w"), i + 1).alias("v"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<u:string,v:string>>"))
    big = (
        d.select(F.explode(bigrams).alias("p"))
        .select("p.u", "p.v")
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("n_uv"))
    )
    # Both continuation counts in ONE pass over the distinct-bigram
    # table: each bigram row contributes a left-context event to v and a
    # right-context event to u; a single groupBy(word) with conditional
    # sums replaces the former two groupBys + two joins — and leaves
    # ``big`` with a single consumer, so the round-4 session-lifetime
    # persist is gone entirely.
    cont = (
        big.select(
            F.explode(
                F.array(
                    F.struct(F.lit("L").alias("s"), F.col("v").alias("word")),
                    F.struct(F.lit("R").alias("s"), F.col("u").alias("word")),
                )
            ).alias("e")
        )
        .groupBy(F.col("e.word").alias("word"))
        .agg(
            F.sum(F.when(F.col("e.s") == "L", 1).otherwise(0))
            .cast("bigint")
            .alias("n_cont_left"),
            F.sum(F.when(F.col("e.s") == "R", 1).otherwise(0))
            .cast("bigint")
            .alias("n_cont_right"),
        )
    )
    return uni.join(cont, "word", "left").select(
        "word",
        "n_unigram",
        F.coalesce("n_cont_left", F.lit(0)).cast("bigint").alias("n_cont_left"),
        F.coalesce("n_cont_right", F.lit(0)).cast("bigint").alias("n_cont_right"),
    )


Q103_SQL = r"""
WITH toks AS (
  SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS w FROM documents
), uni AS (
  SELECT word, CAST(count(*) AS BIGINT) AS n_unigram
  FROM (SELECT unnest(w) AS word FROM toks)
  GROUP BY word
), big AS (
  SELECT w[d.i] AS u, w[d.i + 1] AS v
  FROM toks, LATERAL (SELECT unnest(range(1, len(w))) AS i) d
  GROUP BY w[d.i], w[d.i + 1]
), cl AS (
  SELECT v AS word, CAST(count(*) AS BIGINT) AS n_cont_left FROM big GROUP BY v
), cr AS (
  SELECT u AS word, CAST(count(*) AS BIGINT) AS n_cont_right FROM big GROUP BY u
)
SELECT uni.word AS word, uni.n_unigram AS n_unigram,
       CAST(COALESCE(cl.n_cont_left, 0) AS BIGINT) AS n_cont_left,
       CAST(COALESCE(cr.n_cont_right, 0) AS BIGINT) AS n_cont_right
FROM uni LEFT JOIN cl USING (word) LEFT JOIN cr USING (word)
"""


# --------------------------------------------------------------------------
# q104 — BM25 ranked retrieval (inverted-index scoring, rational idf)
# --------------------------------------------------------------------------
_BM25_TERMS = ("vector", "merge", "filter")
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOPN = 20


def q104_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k document retrieval for a fixed query — the keyword-side
    complement to the embedding ANN path (q38/q101): tf from a term-
    filtered explode (the isin gate runs BEFORE the shuffle, so the
    shuffle carries only query-term postings, not the corpus), df from
    the postings themselves, document lengths and corpus stats joined
    broadcast. At 100 TB the per-query cost is proportional to the
    postings of the query terms — the inverted-index property — never to
    the corpus.

    Portability variant: idf is the RATIONAL core (N - df + 0.5)/(df + 0.5)
    rather than its logarithm — ln() is the one libm call engines may
    disagree on in the last ulp (same posture as q92's log-free IDF).
    Per-term scores quantize through decimal(25,6) before the per-doc sum
    (plans/common.py::dsum), so ranking ties and hash compares are exact
    across engines. Ranking is (score DESC, doc_id) — total order.
    """
    t = load_tables(spark, sf_dir)
    d = t["documents"].select("doc_id", tokenize(F.col("text")).alias("w"))
    dl = d.select("doc_id", F.size("w").cast("bigint").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").cast("bigint").alias("sum_dl"),
    )
    tf = (
        d.select("doc_id", F.explode("w").alias("word"))
        .filter(F.col("word").isin(*_BM25_TERMS))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    dfreq = tf.groupBy("word").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")
    idf = (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    denom = F.col("tf") + F.lit(_BM25_K1) * (
        F.lit(1.0 - _BM25_B) + F.lit(_BM25_B) * F.col("dl") / avgdl
    )
    ts = (idf * (F.col("tf") * F.lit(_BM25_K1 + 1.0))) / denom
    return (
        tf.join(F.broadcast(dfreq), "word")
        .join(dl, "doc_id")
        .join(F.broadcast(stats))
        .select("doc_id", ts.alias("ts"))
        .groupBy("doc_id")
        .agg(
            F.round(dsum(F.col("ts")), 6).alias("bm25"),
            F.count(F.lit(1)).cast("bigint").alias("n_terms"),
        )
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(_BM25_TOPN)
    )


_bm25_in = ", ".join(f"'{t}'" for t in _BM25_TERMS)
Q104_SQL = rf"""
WITH d AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w FROM documents
), dl AS (
  SELECT doc_id, CAST(len(w) AS BIGINT) AS dl FROM d
), stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl FROM dl
), tf AS (
  SELECT doc_id, word, CAST(count(*) AS DOUBLE) AS tf
  FROM (SELECT doc_id, unnest(w) AS word FROM d)
  WHERE word IN ({_bm25_in})
  GROUP BY doc_id, word
), dfreq AS (
  SELECT word, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY word
), term AS (
  SELECT t.doc_id,
         (((s.n_docs - f.df + 0.5) / (f.df + 0.5))
          * (t.tf * {_BM25_K1 + 1.0}))
         / (t.tf + {_BM25_K1} * ({1.0 - _BM25_B} + {_BM25_B} * l.dl
              / (CAST(s.sum_dl AS DOUBLE) / s.n_docs))) AS ts
  FROM tf t JOIN dfreq f USING (word) JOIN dl l USING (doc_id) CROSS JOIN stats s
)
SELECT doc_id, round({sql_dsum('ts')}, 6) AS bm25,
       CAST(count(*) AS BIGINT) AS n_terms
FROM term GROUP BY doc_id
ORDER BY bm25 DESC, doc_id LIMIT {_BM25_TOPN}
"""


# --------------------------------------------------------------------------
# q105 — Count-Min sketch heavy hitters (fixed-memory frequency estimates)
# --------------------------------------------------------------------------
_CMS_D = 4
_CMS_W = 256
_CMS_TOPN = 20


def q105_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter tokens via `operators/cms.py` — the frequency member
    of the sketch family (q76 HLL distinct, q90 Bloom membership): build
    the d×w counter grid over the raw token stream (shuffle width d·w,
    CONSTANT in corpus and vocabulary size), probe it for every distinct
    token, rank by estimate. ``true_cnt`` rides along as the audit
    column — the CMS overestimate property (est ≥ true, error ≤ (e/w)·N)
    is what the paired property test pins; at 100 TB you keep the grid
    and drop the exact count, that's the point.

    The whole pipeline is exactly portable: md5-derived cell indices,
    integer counters — the oracle rebuilds the grid cell-for-cell, so
    even the ESTIMATES compare hash-exact.

    Plan shape: ONE pass over the token stream (the vocab groupBy);
    the grid then builds FROM the vocab via ``cms_build(weight_col=)``
    — cell-for-cell identical to building from raw occurrences, but the
    d-fold explode fans out over the vocabulary instead of the corpus,
    and the token stream has a single consumer (no persist to leak for
    the life of the session)."""
    from ..operators.cms import cms_build, cms_estimate

    t = load_tables(spark, sf_dir)
    toks = t["documents"].select(
        F.explode(tokenize(F.col("text"))).alias("word")
    )
    vocab = toks.groupBy("word").agg(
        F.count(F.lit(1)).cast("bigint").alias("true_cnt")
    )
    sketch = cms_build(
        vocab, "word", depth=_CMS_D, width=_CMS_W, weight_col="true_cnt"
    )
    est = cms_estimate(sketch, vocab, "word", depth=_CMS_D, width=_CMS_W)
    return (
        est.select("word", "est_cnt", "true_cnt")
        .orderBy(F.desc("est_cnt"), "word")
        .limit(_CMS_TOPN)
    )


Q105_SQL = rf"""
WITH toks AS (
  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS word
  FROM documents
), rows_i AS (
  SELECT CAST(unnest(range({_CMS_D})) AS INT) AS i
), hashes AS (
  SELECT t.word, r.i,
         CAST(('0x' || substr(md5(CAST(r.i AS VARCHAR) || ':' || t.word), 1, 8)) AS BIGINT) % {_CMS_W} AS col
  FROM toks t CROSS JOIN rows_i r
), sketch AS (
  SELECT i, col, CAST(count(*) AS BIGINT) AS c FROM hashes GROUP BY i, col
), vocab AS (
  SELECT word, CAST(count(*) AS BIGINT) AS true_cnt FROM toks GROUP BY word
), probes AS (
  SELECT v.word, v.true_cnt,
         COALESCE(s.c, 0) AS c
  FROM vocab v CROSS JOIN rows_i r
  LEFT JOIN sketch s
    ON s.i = r.i
   AND s.col = CAST(('0x' || substr(md5(CAST(r.i AS VARCHAR) || ':' || v.word), 1, 8)) AS BIGINT) % {_CMS_W}
), est AS (
  SELECT word, CAST(min(c) AS BIGINT) AS est_cnt, min(true_cnt) AS true_cnt
  FROM probes GROUP BY word
)
SELECT word, est_cnt, true_cnt FROM est
ORDER BY est_cnt DESC, word LIMIT {_CMS_TOPN}
"""


# --------------------------------------------------------------------------
# q106 — Johnson-Lindenstrauss projection (ANN front-end dim reduction)
# --------------------------------------------------------------------------
_JL_IN = 64
_JL_OUT = 16  # 1/sqrt(16) = 0.25: the scale is exactly representable


def q106_jl_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`operators/similarity.py::jl_project` under the exact gate:
    64-dim embeddings → 16-dim sign projections (Achlioptas ±1 matrix,
    deterministic md5-derived, embedded as shared literals in plan AND
    oracle). This is the ANN front-end at 100 TB — LSH bucketing, PQ,
    and k-means assignment all pay per-dimension per comparison, so a
    4× reduction is a 4× cut on every downstream distance fold. Narrow,
    zero-shuffle, whole-stage codegen."""
    from ..operators.similarity import jl_project

    t = load_tables(spark, sf_dir)
    out = jl_project(
        t["embeddings"], "vec_id", "embedding", in_dim=_JL_IN, out_dim=_JL_OUT
    )
    return out.select(
        "vec_id", F.posexplode("proj").alias("dim", "v")
    ).select("vec_id", "dim", F.round("v", 6).alias("proj"))


def _q106_sql() -> str:
    from ..operators.similarity import _jl_signs

    signs = _jl_signs(_JL_IN, _JL_OUT, "jl")
    scale = repr(1.0 / (_JL_OUT ** 0.5))
    comps = []
    for j, row in enumerate(signs):
        # Explicit left-assoc chain == the Spark fold's order (0.0 + x1*s1
        # + x2*s2 ... with 0.0+a = a exactly).
        terms = " + ".join(
            f"vd[{i + 1}] * {'1.0' if s > 0 else '-1.0'}" for i, s in enumerate(row)
        )
        comps.append(f"round(({terms}) * {scale}, 6)")
    unnest_vals = ", ".join(comps)
    dims = ", ".join(str(j) for j in range(_JL_OUT))
    return f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
  FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) >= {_JL_IN}
)
SELECT vec_id, u.dim AS dim, u.proj AS proj FROM v, LATERAL (
  SELECT unnest([{dims}]) AS dim, unnest([{unnest_vals}]) AS proj
) u
"""


Q106_SQL = _q106_sql()


# --------------------------------------------------------------------------
# q107 — PQ + ADC end-to-end: index build then query, exactly gated
# --------------------------------------------------------------------------
#: Fixed query vector: exact quarter multiples so the literal is the same
#: double in Python, Spark, and DuckDB.
_ADC_QUERY = [0.25 * ((j * 7) % 9 - 4) for j in range(64)]
_ADC_TOPN = 10


def q107_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full compressed-ANN query path under one exact gate: train PQ
    codebooks and encode the corpus (q101), then answer a top-k query by
    asymmetric distance — an m·k lookup table built driver-side from the
    codebooks, one broadcast equi-join on (sub, code), one quantized-
    exact sum per vector. At query time the corpus contributes ONLY its
    code table (m small ints per vector); no corpus float is touched —
    the property that lets a 100 TB embedding store answer queries from
    RAM. Ranking is (adc_dist, vec_id), bit-stable across engines via
    the decimal-quantized partial sums."""
    return _pq_adc_ranked(spark, sf_dir).select(
        "vec_id", F.round("adc_dist", 6).alias("adc_dist")
    )


def _pq_adc_ranked(spark: SparkSession, sf_dir: str, id_gate=None) -> DataFrame:
    """q107's ADC ranking with an optional id predicate applied to the
    CODE table before the top-k: the PQ index (codebooks + codes) is the
    fixed full-corpus artifact, but a recall harness evaluating a
    sampled sub-corpus ranks only the sampled codes (q138's
    sample_frac path)."""
    from ..operators.similarity import pq_adc_topk, pq_train_encode

    t = load_tables(spark, sf_dir)
    books: dict = {}
    codes = pq_train_encode(
        t["embeddings"], "vec_id", "embedding",
        m=_PQ_M, k=_PQ_K, iters=2, codebooks_out=books,
    )
    if not books:  # empty corpus: nothing indexed, nothing to rank
        return codes.select("vec_id", F.lit(0.0).alias("adc_dist")).limit(0)
    if id_gate is not None:
        codes = codes.filter(id_gate)
    return pq_adc_topk(codes, books, _ADC_QUERY, "vec_id", k=_ADC_TOPN)


_adc_q_sql = "[" + ", ".join(repr(v) for v in _ADC_QUERY) + "]"
Q107_SQL = f"""
WITH {_PQ_PREFIX_SQL},
lutq AS (
  SELECT c.sub, c.code,
         list_reduce(
           list_transform(range(1, len(c.cvec) + 1),
                          i -> (c.qs[i] - c.cvec[i]) * (c.qs[i] - c.cvec[i])),
           (a, b) -> a + b) AS pdist
  FROM (
    SELECT sub, code, cvec,
           list_slice({_adc_q_sql}, sub * len(cvec) + 1,
                      (sub + 1) * len(cvec)) AS qs
    FROM pc2
  ) c
), scored AS (
  SELECT k.vec_id,
         CAST(SUM(CAST(l.pdist AS DECIMAL(25,6))) AS DOUBLE) AS adc_dist
  FROM pq_codes k JOIN lutq l ON l.sub = k.sub AND l.code = k.code
  GROUP BY k.vec_id
)
SELECT vec_id, round(adc_dist, 6) AS adc_dist
FROM scored ORDER BY adc_dist, vec_id LIMIT {_ADC_TOPN}
"""


# --------------------------------------------------------------------------
# q108 — incremental ingest dedup: new batch vs the stored MinHash index
# --------------------------------------------------------------------------
def q108_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production ingest flow at 100 TB: history is MinHash-band-
    indexed ONCE (`operators/dedup.py::minhash_band_index` — the artifact
    you store, parquet-bucketed by band_key), and each new crawl batch
    computes only its own signatures and equi-joins the stored index
    (`minhash_index_join`). Cross pairs only — history never pays its own
    quadratic fan-out, and the per-batch cost tracks the BATCH, not the
    corpus. The gate splits documents by md5 parity (q78's discipline):
    even → history, odd → the arriving batch."""
    from ..operators.dedup import minhash_band_index, minhash_index_join

    t = load_tables(spark, sf_dir)
    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10).cast(
        "bigint"
    )
    d = t["documents"].withColumn("_par", F.pmod(h, 2))
    hist = d.filter(F.col("_par") == 0).drop("_par")
    new = d.filter(F.col("_par") == 1).drop("_par")
    hi = minhash_band_index(hist, "doc_id", "text", k=_MH_K, bands=_MH_BANDS)
    ni = minhash_band_index(new, "doc_id", "text", k=_MH_K, bands=_MH_BANDS)
    return minhash_index_join(ni, hi, new_id="new_id", hist_id="hist_id")


Q108_SQL = f"""
WITH words AS ({_SQL_WORDS}),
sh AS ({_SQL_SHINGLES}),
based AS (
  SELECT doc_id,
         list_transform(sh, s -> {_sql_md5_60bit('s')} % {_MH_P}) AS hs
  FROM sh
),
sig AS (
  SELECT doc_id, {_mh_cols}
  FROM based
),
banded AS (
{_band_selects}
),
keyed AS (
  SELECT doc_id, band_id, {_sql_md5_60bit('band_sig')} AS band_key FROM banded
),
par AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 2 AS p
  FROM documents
)
SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS hist_id
FROM keyed a JOIN par pa ON pa.doc_id = a.doc_id AND pa.p = 1
JOIN keyed b ON b.band_id = a.band_id AND b.band_key = a.band_key
JOIN par pb ON pb.doc_id = b.doc_id AND pb.p = 0
"""


# --------------------------------------------------------------------------
# q113 — int8 scalar quantization of the embedding corpus (SQ8)
# --------------------------------------------------------------------------
def q113_sq8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 scalar quantization — the simplest vector-compression step a
    100 TB embedding store applies before PQ (q101) is worth its
    training cost: per-DIMENSION global [min, max] (one map-side-
    combinable aggregation whose output is dim-sized, broadcast back),
    then each component encodes to an int8 bucket
    floor((v - mn)·255/(mx - mn)). 4x memory cut, zero training state,
    exact integer output — and the decode (mn + code·(mx-mn)/255) needs
    only the 64-row stats table.

    Shape: one posexplode + groupBy(dim) (partial agg reduces every
    partition to ≤dim rows before the shuffle), one broadcast hash join
    on the int dim key, all arithmetic identical IEEE doubles in both
    engines."""
    t = load_tables(spark, sf_dir)
    e = t["embeddings"].select(
        "vec_id",
        F.posexplode(F.transform("embedding", lambda x: x.cast("double"))).alias(
            "dim", "v"
        ),
    )
    stats = e.groupBy("dim").agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
    code = F.when(F.col("mx") == F.col("mn"), F.lit(0).cast("bigint")).otherwise(
        F.least(
            F.lit(255).cast("bigint"),
            F.floor(
                (F.col("v") - F.col("mn")) * F.lit(255.0) / (F.col("mx") - F.col("mn"))
            ),
        )
    )
    return e.join(F.broadcast(stats), "dim").select(
        "vec_id", "dim", code.cast("int").alias("code")
    )


Q113_SQL = """
WITH e AS (
  SELECT vec_id, CAST(d.i - 1 AS INT) AS dim, CAST(embedding[d.i] AS DOUBLE) AS v
  FROM embeddings, LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i) d
), s AS (
  SELECT dim, min(v) AS mn, max(v) AS mx FROM e GROUP BY dim
)
SELECT e.vec_id AS vec_id, e.dim AS dim,
       CAST(CASE WHEN s.mx = s.mn THEN 0
                 ELSE least(255, CAST(floor((e.v - s.mn) * 255.0 / (s.mx - s.mn)) AS BIGINT))
            END AS INT) AS code
FROM e JOIN s USING (dim)
"""


# --------------------------------------------------------------------------
# q114 — ANN recall evaluation: IVF top-k scored against exact top-k
# --------------------------------------------------------------------------
def q114_ann_recall(
    spark: SparkSession, sf_dir: str, sample_frac: float = 1.0
) -> DataFrame:
    """The eval harness every ANN deployment needs: per-query recall of
    the IVF index (q38's exact configuration) against the brute-force
    ground truth (q31). Measure, don't guess — the (c, n_probe) knobs
    are tuned BY this number, and at 100 TB you run it on a sampled
    query set against the full index. Output (vec_id, n_hits, k_found,
    recall): all-integer counts plus one final IEEE division, so the
    quality metric itself is oracle-exact.

    ``sample_frac`` < 1 evaluates a deterministic md5 sample of the
    QUERY set (plans/common.py::md5_sample_gate on vec_id): the exact
    ground-truth side prices at |sample|·|corpus| instead of |corpus|²,
    and the IVF probe side filters to the same queries — the 100x
    path. Candidates stay the FULL corpus on both sides, so every
    sampled query's row is bit-identical to the frac=1.0 run's (the
    oracle gate runs at frac=1.0, unchanged)."""
    t = load_tables(spark, sf_dir)
    emb = t["embeddings"]
    qset = None
    gate = None
    if sample_frac < 1.0:
        gate = md5_sample_gate(F.col("vec_id"), sample_frac, salt="annq")
        qset = emb.filter(gate)
    ex = cosine_topk_bruteforce(
        emb, "vec_id", "embedding", k=3, max_n=None, queries=qset
    )
    iv, pins = ivf_topk(
        emb, "vec_id", "embedding",
        k=3, n_centroids=_IVF_C, n_probe=_IVF_PROBE,
    )
    if gate is not None:
        # Same predicate on the probe output: it pushes through the
        # rank window (vec_id is the partition key) and the cell join,
        # so the approximate side also prices at sample size.
        iv = iv.filter(md5_sample_gate(F.col("vec_id"), sample_frac, salt="annq"))
    iv = iv.select("vec_id", "neighbor_id", F.lit(1).alias("_hit"))
    res = (
        ex.select("vec_id", "neighbor_id")
        .join(iv, ["vec_id", "neighbor_id"], "left")
        .groupBy("vec_id")
        .agg(
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("bigint").alias("n_hits"),
            F.count(F.lit(1)).cast("bigint").alias("k_found"),
        )
        .select(
            "vec_id",
            "n_hits",
            "k_found",
            F.round(
                F.col("n_hits").cast("double") / F.col("k_found").cast("double"), 6
            ).alias("recall"),
        )
    )
    return materialize_release(res, *pins)


Q114_SQL = f"""
WITH ex AS ({Q31_SQL}), iv AS ({Q38_SQL})
SELECT ex.vec_id AS vec_id,
       CAST(sum(CASE WHEN iv.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       CAST(count(*) AS BIGINT) AS k_found,
       round(CAST(sum(CASE WHEN iv.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(count(*) AS DOUBLE), 6) AS recall
FROM ex LEFT JOIN iv
  ON iv.vec_id = ex.vec_id AND iv.neighbor_id = ex.neighbor_id
GROUP BY ex.vec_id
"""


# --------------------------------------------------------------------------
# q115 — per-domain quality cap (data-mixture curation)
# --------------------------------------------------------------------------
_DOMAIN_CAP = 100


def q115_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap, quality-ranked — the curation step that
    stops one crawl domain from dominating the mixture: rank every
    document within its source by quality score (q25's exact features),
    keep the top ``_DOMAIN_CAP``, and carry the running token total so a
    downstream token-budget cut is a filter, not another pass. Both
    window functions share ONE partitioning (source) and one sort, so
    the plan pays a single exchange; at 100 TB the partition key is the
    domain — the natural unit of skew, handled by AQE."""
    t = load_tables(spark, sf_dir)
    d = t["documents"]
    staged = d.select(
        "doc_id", "source", "text", tokenize(F.col("text")).alias("toks")
    )
    feats = quality_features(F.col("text"), F.col("toks"))
    scored = staged.select(
        "doc_id",
        "source",
        feats["n_tokens"].alias("n_tokens"),
        feats["quality_score"].alias("quality_score"),
    )
    w = Window.partitionBy("source").orderBy(
        F.col("quality_score").desc(), F.col("doc_id").asc()
    )
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .withColumn("cum_tokens", F.sum("n_tokens").over(wsum).cast("bigint"))
        .filter(F.col("rk") <= _DOMAIN_CAP)
        .select(
            "doc_id",
            "source",
            "rk",
            "n_tokens",
            "cum_tokens",
            F.round("quality_score", 6).alias("quality_score"),
        )
    )


Q115_SQL = f"""
WITH q AS ({Q25_SQL}), scored AS (
  SELECT d.doc_id, d.source, q.n_tokens, q.quality_score
  FROM documents d JOIN q ON q.doc_id = d.doc_id
), ranked AS (
  SELECT doc_id, source, n_tokens, quality_score,
         row_number() OVER (PARTITION BY source
                            ORDER BY quality_score DESC, doc_id) AS rk,
         CAST(sum(n_tokens) OVER (PARTITION BY source
                            ORDER BY quality_score DESC, doc_id
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
  FROM scored
)
SELECT doc_id, source, rk, n_tokens, cum_tokens,
       round(quality_score, 6) AS quality_score
FROM ranked WHERE rk <= {_DOMAIN_CAP}
"""


# --------------------------------------------------------------------------
# q116 — bigram-LM document scoring (CCNet-style fluency proxy)
# --------------------------------------------------------------------------
def q116_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean bigram MLE probability p(w_i | w_{i-1}) =
    n(u,v)/n(u·) under the corpus's own bigram model — the conditional-
    probability sibling of q89's unigram commonness and the fluency
    proxy a CCNet-style quality pipeline thresholds on (documents whose
    word PAIRS are corpus-rare read as disfluent even when every word is
    common). Log-free by design: probabilities are rationals of bigint
    counts, summed through decimal(25,6) partials, one final division —
    exactly portable.

    Shape: ONE pass over the token stream builds the per-(doc, u, v)
    counts; the corpus bigram table and the prefix totals both derive
    from that already-aggregated frame (vocab²-bounded, never
    corpus-sized), and the probe side re-reads the same shuffle
    (exchange reuse — the q105 discipline, no session-lifetime persist)."""
    t = load_tables(spark, sf_dir)
    d = t["documents"].select("doc_id", tokenize(F.col("text")).alias("w"))
    bigrams = F.when(
        F.size("w") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("w") - 1),
            lambda i: F.struct(
                F.element_at(F.col("w"), i).alias("u"),
                F.element_at(F.col("w"), i + 1).alias("v"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<u:string,v:string>>"))
    # The explicit isnotnull matches the filter the final join pushes into
    # the probe branch — with it present in EVERY branch the three db
    # subtrees canonicalize identically and AQE's exchange reuse computes
    # the corpus-sized shuffle ONCE (asserted by the q116 plan test).
    db = (
        d.filter(F.col("doc_id").isNotNull())
        .select("doc_id", F.explode(bigrams).alias("p"))
        .select("doc_id", "p.u", "p.v")
        .filter(F.col("u").isNotNull() & F.col("v").isNotNull())
        .groupBy("doc_id", "u", "v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c_duv"))
    )
    big = db.groupBy("u", "v").agg(F.sum("c_duv").cast("bigint").alias("n_uv"))
    # Prefix totals n(u·) as a WINDOW over the bigram table, not a third
    # derivation: a separate groupBy+join would re-derive the whole
    # corpus subtree (plans are trees — only exchange reuse deduplicates,
    # and it can't across a groupBy boundary). The window shuffles the
    # vocab²-bounded bigram table once, nothing corpus-sized.
    bigw = big.withColumn(
        "n_u", F.sum("n_uv").over(Window.partitionBy("u")).cast("bigint")
    )
    p = F.col("n_uv").cast("double") / F.col("n_u").cast("double")
    per = (
        db.join(bigw, ["u", "v"])
        .groupBy("doc_id")
        .agg(
            F.sum("c_duv").cast("bigint").alias("n_bigrams"),
            F.round(
                dsum(F.col("c_duv").cast("double") * p)
                / F.sum("c_duv").cast("double"),
                6,
            ).alias("mean_p"),
        )
    )
    return (
        t["documents"]
        .select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0).cast("bigint")).alias("n_bigrams"),
            F.coalesce("mean_p", F.lit(0.0)).alias("mean_p"),
        )
    )


Q116_SQL = rf"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w FROM documents
), db AS (
  SELECT doc_id, w[d.i] AS u, w[d.i + 1] AS v, CAST(count(*) AS BIGINT) AS c_duv
  FROM toks, LATERAL (SELECT unnest(range(1, len(w))) AS i) d
  WHERE doc_id IS NOT NULL AND w[d.i] IS NOT NULL AND w[d.i + 1] IS NOT NULL
  GROUP BY doc_id, w[d.i], w[d.i + 1]
), big AS (
  SELECT u, v, CAST(sum(c_duv) AS BIGINT) AS n_uv FROM db GROUP BY u, v
), bigw AS (
  SELECT u, v, n_uv,
         CAST(sum(n_uv) OVER (PARTITION BY u) AS BIGINT) AS n_u
  FROM big
), per AS (
  SELECT db.doc_id,
         CAST(sum(db.c_duv) AS BIGINT) AS n_bigrams,
         round({sql_dsum('CAST(db.c_duv AS DOUBLE) * (CAST(bigw.n_uv AS DOUBLE) / CAST(bigw.n_u AS DOUBLE))')}
               / CAST(sum(db.c_duv) AS DOUBLE), 6) AS mean_p
  FROM db JOIN bigw USING (u, v)
  GROUP BY db.doc_id
)
SELECT d.doc_id AS doc_id,
       COALESCE(per.n_bigrams, 0) AS n_bigrams,
       COALESCE(per.mean_p, 0.0) AS mean_p
FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id
"""


# --------------------------------------------------------------------------
# q117 — deterministic epoch up-sampling (data-mixture replication)
# --------------------------------------------------------------------------
def q117_epoch_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fractional domain up-sampling — the mixture step that turns "2.5
    epochs of src3" into a materialized training stream: every document
    replicates floor(r) times and one extra copy is admitted by the q75
    md5 gate with probability frac(r), so the EXPECTED multiplicity is
    exactly r and the realized one is deterministic per document (no
    RNG; re-runs, engines agree). The replication factor here derives
    from the source index (1.0 + (idx mod 4)·0.5 → 1.0/1.5/2.0/2.5);
    production passes its tuned per-domain weights.

    Shape: pure narrow explode — zero shuffles, output size = Σ
    multiplicities. At 100 TB up-sampling is exactly this: a flatMap,
    never a join."""
    t = load_tables(spark, sf_dir)
    idx = F.regexp_extract(F.col("source"), r"(\d+)$", 1).cast("int")
    m = idx % 4  # r = 1 + m * 0.5 -> floor(r) = 1 + (m - m%2)/2, frac in {0, .5}
    base = t["documents"].select(
        "doc_id",
        "source",
        (F.lit(1) + (m - m % 2) / F.lit(2)).cast("int").alias("n_base"),
        (m % 2 * 500000).alias("frac_m"),  # frac(r) in millionths, exact int
    )
    draw = F.pmod(
        F.conv(
            F.substring(F.md5(F.concat(F.lit("up:"), F.col("doc_id").cast("string"))), 1, 15),
            16,
            10,
        ).cast("bigint"),
        F.lit(1000000),
    )
    withn = base.select(
        "doc_id",
        "source",
        (F.col("n_base") + F.when(draw < F.col("frac_m"), 1).otherwise(0)).alias("n"),
    )
    return withn.select(
        "doc_id",
        "source",
        F.explode(F.sequence(F.lit(0), F.col("n") - 1)).alias("copy_idx"),
    )


Q117_SQL = r"""
WITH base AS (
  SELECT doc_id, source,
         CAST(regexp_extract(source, '(\d+)$', 1) AS INT) % 4 AS m
  FROM documents
), withn AS (
  SELECT doc_id, source,
         (1 + m // 2)
         + (CASE WHEN CAST(('0x' || substr(md5('up:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000000
                      < (m % 2) * 500000
                 THEN 1 ELSE 0 END) AS n
  FROM base
)
SELECT doc_id, source, CAST(c.copy_idx AS INT) AS copy_idx
FROM withn, LATERAL (SELECT unnest(range(0, n)) AS copy_idx) c
"""


# --------------------------------------------------------------------------
# q118 — hard-negative mining for contrastive training
# --------------------------------------------------------------------------
_HN_TOPK = 5
_HN_EVERY = 50


def q118_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining — the contrastive-training data op: for each
    query vector (a deterministic 1/50 sample), the top-5 most-similar
    vectors with a DIFFERENT label. High-cosine wrong-label neighbors
    are exactly the negatives a retrieval/embedding trainer needs; the
    label column plays the role of the supervision signal.

    Shape: the query batch broadcasts (batch-sized by construction) and
    the corpus scans ONCE against it — O(n·|Q|) scored pairs, a window
    per query for the top-k. At 100 TB you shard the query set and
    rerun; the corpus-side cost is one scan per shard, and the same
    plan accepts an IVF-pruned candidate join (q38) when |Q| grows."""
    t = load_tables(spark, sf_dir)
    base = t["embeddings"].select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("vd"),
        "label",
    ).filter(F.col("vd").isNotNull())
    nrm = F.sqrt(
        F.aggregate(
            F.transform("vd", lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
        )
    )
    corpus = base.select("vec_id", "vd", "label", nrm.alias("nr"))
    queries = corpus.filter(F.col("vec_id") % _HN_EVERY == 0).select(
        F.col("vec_id").alias("q_id"),
        F.col("vd").alias("q_vd"),
        F.col("label").alias("q_label"),
        F.col("nr").alias("q_nr"),
    )
    dot = F.aggregate(
        F.zip_with("q_vd", "vd", lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = (
        corpus.join(F.broadcast(queries))
        .filter(
            (F.col("label") != F.col("q_label")) & (F.col("vec_id") != F.col("q_id"))
        )
        .select(
            "q_id",
            F.col("vec_id").alias("neg_id"),
            "label",
            (dot / (F.col("q_nr") * F.col("nr"))).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cos_sim").desc(), F.col("neg_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _HN_TOPK)
        .select("q_id", "neg_id", "label", F.round("cos_sim", 6).alias("cos_sim"), "rn")
    )


Q118_SQL = f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd, label
  FROM embeddings WHERE embedding IS NOT NULL
), n AS (
  SELECT vec_id, vd, label,
         sqrt(list_reduce(list_transform(vd, x -> x * x), (a, b) -> a + b)) AS nr
  FROM v
), q AS (
  SELECT vec_id AS q_id, vd AS q_vd, label AS q_label, nr AS q_nr
  FROM n WHERE vec_id % {_HN_EVERY} = 0
), scored AS (
  SELECT q.q_id, n.vec_id AS neg_id, n.label,
         {_SQL_DOT.format(a='q.q_vd', b='n.vd')} / (q.q_nr * n.nr) AS cos_sim
  FROM n CROSS JOIN q
  WHERE n.label <> q.q_label AND n.vec_id <> q.q_id
), ranked AS (
  SELECT q_id, neg_id, label, cos_sim,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY cos_sim DESC, neg_id) AS rn
  FROM scored
)
SELECT q_id, neg_id, label, round(cos_sim, 6) AS cos_sim, rn
FROM ranked WHERE rn <= {_HN_TOPK}
"""


# --------------------------------------------------------------------------
# q119 — maximal shared-substring runs (contamination span diagnostics)
# --------------------------------------------------------------------------
_RUN_N = 13


def q119_shared_substring_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination SPANS, not just collisions: q86 tells you WHETHER an
    eval document shares a verbatim 13-gram with the train corpus; this
    reports the maximal shared SUBSTRING runs per (eval, train) document
    pair — the Lee-et-al.-style diagnostic that distinguishes one shared
    idiom from a wholesale copied paragraph. Matched gram positions from
    the digest equi-join collapse into runs with gaps-and-islands window
    math on the match DIAGONAL (e_pos − t_pos): consecutive positions on
    one diagonal are one contiguous shared substring of
    run_grams + n − 1 tokens.

    Scale shape: the join is q86's digest equi-join (32-char keys,
    shuffle width independent of document size); the islands window
    partitions by (eval_doc, train_doc, diagonal) — bounded by the MATCH
    volume, never the corpus. A pathological shared boilerplate gram
    fans out like any inverted-index join; cap with a q29-style max_df
    on the digest when the corpus needs it."""
    n = _RUN_N
    t = load_tables(spark, sf_dir)
    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10).cast(
        "bigint"
    )
    w = tokenize(F.col("text"))
    gp = F.when(
        F.size("w") >= n,
        F.transform(
            F.sequence(F.lit(1), F.size("w") - (n - 1)),
            lambda i: F.struct(
                i.alias("pos"),
                F.md5(F.concat_ws(" ", F.slice(F.col("w"), i, n))).alias("g"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<pos:int,g:string>>"))
    d = (
        t["documents"]
        .select("doc_id", w.alias("w"), F.pmod(h, 2).alias("_par"))
        .filter(F.size("w") >= n)
        .select("doc_id", "_par", F.explode(gp).alias("p"))
        .select("doc_id", "_par", F.col("p.pos").alias("pos"), F.col("p.g").alias("g"))
    )
    ev = d.filter(F.col("_par") == 1).select(
        F.col("doc_id").alias("e_doc"), F.col("pos").alias("e_pos"), "g"
    )
    tr = d.filter(F.col("_par") == 0).select(
        F.col("doc_id").alias("t_doc"), F.col("pos").alias("t_pos"), "g"
    )
    m = ev.join(tr, "g").select(
        "e_doc", "t_doc", "e_pos", "t_pos", (F.col("e_pos") - F.col("t_pos")).alias("diag")
    )
    wisl = Window.partitionBy("e_doc", "t_doc", "diag").orderBy("e_pos")
    runs = (
        m.withColumn("island", F.col("e_pos") - F.row_number().over(wisl))
        .groupBy("e_doc", "t_doc", "diag", "island")
        .agg(F.count(F.lit(1)).cast("bigint").alias("run_grams"))
    )
    return runs.groupBy("e_doc", "t_doc").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_runs"),
        F.sum("run_grams").cast("bigint").alias("n_matched_grams"),
        F.max("run_grams").cast("bigint").alias("max_run_grams"),
        (F.max("run_grams") + F.lit(n - 1)).cast("bigint").alias("max_run_tokens"),
    ).select(
        F.col("e_doc").alias("eval_doc"),
        F.col("t_doc").alias("train_doc"),
        "n_runs",
        "n_matched_grams",
        "max_run_grams",
        "max_run_tokens",
    )


Q119_SQL = rf"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 2 AS par
  FROM documents
), g AS (
  SELECT doc_id, par, CAST(s.i AS INT) AS pos,
         md5(list_aggregate(list_slice(w, s.i, s.i + {_RUN_N - 1}), 'string_agg', ' ')) AS g
  FROM w, LATERAL (SELECT unnest(range(1, len(w) - {_RUN_N - 2})) AS i) s
  WHERE len(w) >= {_RUN_N}
), m AS (
  SELECT e.doc_id AS e_doc, t.doc_id AS t_doc, e.pos AS e_pos, t.pos AS t_pos,
         e.pos - t.pos AS diag
  FROM g e JOIN g t ON t.g = e.g
  WHERE e.par = 1 AND t.par = 0
), isl AS (
  SELECT e_doc, t_doc, diag, e_pos,
         e_pos - row_number() OVER (PARTITION BY e_doc, t_doc, diag ORDER BY e_pos) AS island
  FROM m
), runs AS (
  SELECT e_doc, t_doc, diag, island, CAST(count(*) AS BIGINT) AS run_grams
  FROM isl GROUP BY e_doc, t_doc, diag, island
)
SELECT e_doc AS eval_doc, t_doc AS train_doc,
       CAST(count(*) AS BIGINT) AS n_runs,
       CAST(sum(run_grams) AS BIGINT) AS n_matched_grams,
       CAST(max(run_grams) AS BIGINT) AS max_run_grams,
       CAST(max(run_grams) + {_RUN_N - 1} AS BIGINT) AS max_run_tokens
FROM runs GROUP BY e_doc, t_doc
"""


# --------------------------------------------------------------------------
# q120 — greedy BPE tokenizer APPLICATION with a pinned merge table
# --------------------------------------------------------------------------
#: Pinned merge rules in training-rank order (the q98 pair-count step is
#: the trainer; these are the composition a trained table would hold for
#: this corpus's vocabulary — 'table' and 'value' assemble char by char).
_BPE_MERGES = [
    ("t", "a"), ("l", "e"), ("b", "le"), ("ta", "ble"),
    ("v", "a"), ("va", "l"), ("val", "u"), ("valu", "e"),
]


def q120_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLY — the other half of q98's BPE trainer: encode
    every word with a pinned merge table, rules applied in training-rank
    order as leftmost-non-overlapping string replaces (each rule twice,
    which resolves boundary-sharing repeats up to 4 deep; a production
    encoder loops each rule to fixpoint). Output per document: symbol
    count before merges, subword count after, and the compression ratio
    — the number a tokenizer-budget planner actually consumes.

    Exactness: replace() is leftmost-non-overlapping in BOTH engines, so
    the greedy merge sequence — including its divergence from
    pair-priority BPE on pathological repeats — is bit-identical across
    the oracle boundary. Shape: one token explode, all merge folds
    narrow per-row string ops in whole-stage codegen, one final
    groupBy(doc_id)."""
    t = load_tables(spark, sf_dir)
    toks = (
        t["documents"]
        .select("doc_id", F.explode(tokenize(F.col("text"))).alias("tok"))
        .filter(F.length("tok") > 0)
    )
    s = F.concat(F.lit(" "), F.regexp_replace(F.col("tok"), r"(.)", r"$1 "))
    for a, b in _BPE_MERGES:
        for _ in range(2):  # twice per rule — see docstring
            s = F.replace(s, F.lit(f" {a} {b} "), F.lit(f" {a}{b} "))
    enc = toks.select(
        "doc_id",
        F.length("tok").cast("bigint").alias("n_sym"),
        F.size(F.split(F.trim(s), " ")).cast("bigint").alias("n_sub"),
    )
    return enc.groupBy("doc_id").agg(
        F.sum("n_sym").cast("bigint").alias("n_symbols"),
        F.sum("n_sub").cast("bigint").alias("n_subwords"),
        F.round(
            F.sum("n_sub").cast("double") / F.sum("n_sym").cast("double"), 6
        ).alias("compression"),
    )


def _sql_bpe_chain() -> str:
    expr = "' ' || regexp_replace(tok, '(.)', '\\1 ', 'g')"
    for a, b in _BPE_MERGES:
        for _ in range(2):
            expr = f"replace({expr}, ' {a} {b} ', ' {a}{b} ')"
    return expr


Q120_SQL = rf"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
  FROM documents
), enc AS (
  SELECT doc_id,
         CAST(length(tok) AS BIGINT) AS n_sym,
         CAST(len(regexp_split_to_array(trim({_sql_bpe_chain()}), ' ')) AS BIGINT) AS n_sub
  FROM toks WHERE length(tok) > 0
)
SELECT doc_id,
       CAST(sum(n_sym) AS BIGINT) AS n_symbols,
       CAST(sum(n_sub) AS BIGINT) AS n_subwords,
       round(CAST(sum(n_sub) AS DOUBLE) / CAST(sum(n_sym) AS DOUBLE), 6) AS compression
FROM enc GROUP BY doc_id
"""



# --------------------------------------------------------------------------
# q121 — boilerplate removal by document frequency (C4-style)
# --------------------------------------------------------------------------
#: A span occurring in MORE THAN this many distinct documents is dropped
#: everywhere (C4's rule: any line on >= 3 pages of the crawl is
#: boilerplate).
_BP_MAX_DOC_DF = 2


def q121_boilerplate_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide boilerplate excision, C4-style: any fixed-width token
    span occurring in more than ``_BP_MAX_DOC_DF`` DISTINCT documents is
    dropped from EVERY document that contains it. The complement of
    q91's keep-first segment dedup — a span repeated across many pages
    is navigation/footer boilerplate, and keeping even one copy pollutes
    the training mix. Returns per-document retention stats plus the
    rebuilt text.

    Shape (see `operators/dedup.py::boilerplate_filter`): one span-hash
    shuffle for the distinct-document count, one hash-keyed join back,
    one doc-keyed re-assembly — cost tracks total spans, never spans².
    """
    t = load_tables(spark, sf_dir)
    docs, pins = boilerplate_filter(
        t["documents"], "doc_id", "text", SEGMENT_TOKENS, _BP_MAX_DOC_DF
    )
    return materialize_release(docs, *pins)


Q121_SQL = rf"""
WITH d AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w FROM documents
), seg AS (
  SELECT doc_id,
         CAST((s.i - 1) / {SEGMENT_TOKENS} AS INT) AS seg_idx,
         list_aggregate(list_slice(w, s.i, s.i + {SEGMENT_TOKENS - 1}),
                        'string_agg', ' ') AS seg
  FROM d, LATERAL (
    SELECT unnest(range(1, len(w) + 1, {SEGMENT_TOKENS})) AS i
  ) s
), dfc AS (
  SELECT md5(seg) AS seg_h, count(DISTINCT doc_id) AS doc_df FROM seg GROUP BY 1
), marked AS (
  SELECT seg.doc_id, seg.seg_idx, seg.seg,
         dfc.doc_df > {_BP_MAX_DOC_DF} AS is_bp
  FROM seg JOIN dfc ON md5(seg.seg) = dfc.seg_h
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_segs,
       CAST(count(*) FILTER (WHERE NOT is_bp) AS BIGINT) AS n_kept,
       round(CAST(count(*) FILTER (WHERE NOT is_bp) AS DOUBLE) / count(*), 6)
         AS kept_frac,
       COALESCE(string_agg(seg, ' ' ORDER BY seg_idx) FILTER (WHERE NOT is_bp), '')
         AS kept_text
FROM marked GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# q122 — winnowing fingerprints (Schleimer-Wilkerson-Aiken / MOSS)
# --------------------------------------------------------------------------
_WINNOW_K = 8
_WINNOW_W = 4


def q122_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint selection over every document: k-char gram
    hashes, a w-hash sliding window, min hash per window with ties to
    the rightmost position (robust winnowing). Guarantees any shared
    substring of >= k+w-1 chars between two documents shares a
    fingerprint, at ~2/(w+1) density — the local fingerprinting front
    end for plagiarism-class near-dup detection where MinHash's global
    signature washes out short copied spans.

    Output is the raw fingerprint set (doc, packed, fp_hash, fp_pos) —
    per-row evidence that both engines select IDENTICAL (hash, position)
    pairs, not just equal counts. Shape: narrow gram generation, one
    per-document window min (partition = document, bounded by document
    length), one distinct. Zero joins.
    """
    t = load_tables(spark, sf_dir)
    return winnow_fingerprints(
        t["documents"], "doc_id", "text", _WINNOW_K, _WINNOW_W
    )


Q122_SQL = rf"""
WITH d AS (
  SELECT doc_id, regexp_replace(trim(lower(text)), '\s+', '', 'g') AS s
  FROM documents
), g AS (
  SELECT doc_id, length(s) AS len, CAST(s2.i AS INT) AS pos,
         CAST(('0x' || substr(md5(substr(s, CAST(s2.i AS INT), {_WINNOW_K})), 1, 8))
              AS BIGINT) AS h
  FROM d, LATERAL (SELECT unnest(range(1, length(s) - {_WINNOW_K - 2})) AS i) s2
  WHERE length(s) >= {_WINNOW_K + _WINNOW_W - 1}
), sel AS (
  SELECT DISTINCT doc_id,
         min(h * {1 << 20} + ({(1 << 20) - 1} - pos))
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN CURRENT ROW AND {_WINNOW_W - 1} FOLLOWING) AS sel
  FROM g
  QUALIFY pos <= len - {_WINNOW_K - 1} - {_WINNOW_W - 1}
)
SELECT doc_id, CAST(sel AS BIGINT) AS packed,
       CAST(sel // {1 << 20} AS BIGINT) AS fp_hash,
       CAST({(1 << 20) - 1} - (sel % {1 << 20}) AS BIGINT) AS fp_pos
FROM sel
"""


# --------------------------------------------------------------------------
# q123 — DSIR-style hashed-bigram importance scores
# --------------------------------------------------------------------------
#: Hash-bucket count for the bigram feature space (DSIR, Xie et al. 2023,
#: uses 10k buckets at corpus scale; 1024 keeps the broadcast tiny here).
_DSIR_BUCKETS = 1024


def q123_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-selection importance scores, DSIR-shaped: hash every bigram
    into a fixed bucket space, build the TARGET distribution's bucket
    counts from the in-domain slice (here lang='en'), and score every
    raw document by the target mass its own bigrams land on. High
    scorers look like the target domain — the distributed core of
    importance-resampling data selection (Xie et al., NeurIPS 2023).

    Deliberately log-free (q89/q92's idiom): the published estimator
    scores with log-ratios of target/raw bucket probabilities; a
    transcendental log is not bit-portable across engines, so the gated
    form keeps the integer target-mass dot product and one final IEEE
    division — same ranking signal within a fixed corpus, exactly
    reproducible.

    Shape: narrow bigram generation, one groupBy over ``_DSIR_BUCKETS``
    keys for the target histogram (constant-width shuffle), a BROADCAST
    join of that histogram onto the gram stream (map-side, no shuffle),
    one doc-keyed agg. The histogram is bucket-count-sized — constant in
    corpus size, the whole point of hashed features.
    """
    t = load_tables(spark, sf_dir)
    docs = t["documents"].select(
        "doc_id", "lang", tokenize(F.col("text")).alias("w")
    ).filter(F.size("w") >= 2)
    grams = docs.select(
        "doc_id",
        "lang",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("w") - 1),
                lambda i: F.concat_ws(" ", F.slice(F.col("w"), i, 2)),
            )
        ).alias("g"),
    ).withColumn(
        "bucket",
        F.pmod(
            F.conv(F.substring(F.md5("g"), 1, 15), 16, 10).cast("bigint"),
            F.lit(_DSIR_BUCKETS),
        ),
    )
    from pyspark import StorageLevel

    grams = grams.persist(StorageLevel.MEMORY_AND_DISK)
    target = (
        grams.filter(F.col("lang") == "en")
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("t_cnt"))
    )
    res = (
        grams.join(F.broadcast(target), "bucket", "left")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.sum(F.coalesce(F.col("t_cnt"), F.lit(0))).cast("bigint").alias("raw_score"),
            F.round(
                F.sum(F.coalesce(F.col("t_cnt"), F.lit(0))).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("score_per_gram"),
        )
    )
    return materialize_release(res, grams)


Q123_SQL = rf"""
WITH d AS (
  SELECT doc_id, lang, regexp_split_to_array(trim(lower(text)), '\s+') AS w
  FROM documents
), g AS (
  SELECT doc_id, lang,
         CAST(('0x' || substr(md5(w[CAST(s.i AS INT)] || ' ' || w[CAST(s.i AS INT) + 1]),
                              1, 15)) AS BIGINT) % {_DSIR_BUCKETS} AS bucket
  FROM d, LATERAL (SELECT unnest(range(1, len(w))) AS i) s
  WHERE len(w) >= 2
), t AS (
  SELECT bucket, count(*) AS t_cnt FROM g WHERE lang = 'en' GROUP BY bucket
)
SELECT g.doc_id, g.lang,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum(COALESCE(t.t_cnt, 0)) AS BIGINT) AS raw_score,
       round(CAST(sum(COALESCE(t.t_cnt, 0)) AS DOUBLE) / count(*), 6)
         AS score_per_gram
FROM g LEFT JOIN t USING (bucket)
GROUP BY g.doc_id, g.lang
"""


# --------------------------------------------------------------------------
# q124 — tokenizer-vocabulary coverage / OOV audit
# --------------------------------------------------------------------------
#: Vocabulary size for the coverage audit (this corpus has ~31 distinct
#: tokens, so 16 leaves a real OOV tail; production vocabularies are
#: 32k-256k and the plan is identical).
_VOCAB_K = 16


def q124_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-coverage audit: derive the top-``_VOCAB_K`` corpus
    vocabulary (count desc, token asc — deterministic at the cutoff),
    then measure per document how much of its token stream that
    vocabulary covers and how many distinct out-of-vocabulary types
    remain. The pre-flight a tokenizer-budget owner runs before
    committing a vocab size: OOV rate is the fraction of the corpus that
    will shatter into bytes/UNKs.

    Shape: one token-count shuffle, a bounded top-k
    (TakeOrderedAndProject — never a global sort of the postings), a
    BROADCAST vocab join onto the token stream, one doc-keyed agg with
    an exact distinct-OOV count.
    """
    t = load_tables(spark, sf_dir)
    from pyspark import StorageLevel

    toks = (
        t["documents"]
        .select("doc_id", F.explode(tokenize(F.col("text"))).alias("tok"))
        .filter(F.col("tok") != "")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("tok").asc())
        .limit(_VOCAB_K)
        .select("tok", F.lit(1).alias("inv"))
    )
    res = (
        toks.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_toks"),
            F.sum(F.col("inv").isNotNull().cast("int")).cast("bigint").alias("n_covered"),
            F.count_distinct(
                F.when(F.col("inv").isNull(), F.col("tok"))
            ).cast("bigint").alias("n_distinct_oov"),
            F.round(
                F.lit(1.0)
                - F.sum(F.col("inv").isNotNull().cast("int")).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("oov_rate"),
        )
    )
    return materialize_release(res, toks)


Q124_SQL = rf"""
WITH toks AS (
  SELECT doc_id, tok
  FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
        FROM documents)
  WHERE tok <> ''
), vc AS (
  SELECT tok, count(*) AS n FROM toks GROUP BY tok
), vocab AS (
  SELECT tok, 1 AS inv FROM vc ORDER BY n DESC, tok LIMIT {_VOCAB_K}
)
SELECT t.doc_id,
       CAST(count(*) AS BIGINT) AS n_toks,
       CAST(count(*) FILTER (WHERE v.inv IS NOT NULL) AS BIGINT) AS n_covered,
       CAST(count(DISTINCT t.tok) FILTER (WHERE v.inv IS NULL) AS BIGINT)
         AS n_distinct_oov,
       round(1.0 - CAST(count(*) FILTER (WHERE v.inv IS NOT NULL) AS DOUBLE)
                   / count(*), 6) AS oov_rate
FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
GROUP BY t.doc_id
"""



# --------------------------------------------------------------------------
# q125 — chunk-overlap stitch detection (crawl-shard boundary artifacts)
# --------------------------------------------------------------------------
#: Boundary width in tokens. 2 keeps collisions observable on this small
#: shared-vocabulary corpus; a production crawl uses ~50, where a match
#: is near-certainly a real continuation.
_STITCH_K = 2


def q125_overlap_stitch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-overlap artifact detection: find ordered document pairs
    where A's LAST ``_STITCH_K`` tokens equal B's FIRST ``_STITCH_K``
    tokens — the signature of a crawl/extraction pipeline that sharded
    one page into overlapping chunks. Downstream either re-stitches the
    pair or drops the duplicated boundary before training.

    Shape: per-document prefix/suffix hashes (narrow), one equi-join on
    the 32-char boundary digest. Both join sides are PINNED to an
    explicit hash repartition on the digest: boundary keys are natural
    skew magnets (every page of a template site can end with the same
    footer tokens) and the join's output is quadratic per key while its
    input shuffle is tiny — exactly the shape AQE would coalesce onto
    one task (the r5 SemDeDup lesson).
    """
    t = load_tables(spark, sf_dir)
    k = _STITCH_K
    n_part = spark.sparkContext.defaultParallelism
    w = tokenize(F.col("text"))
    b = (
        t["documents"]
        .select("doc_id", w.alias("w"))
        .filter(F.size("w") >= k)
        .select(
            "doc_id",
            F.md5(F.concat_ws(" ", F.slice("w", 1, k))).alias("pref_h"),
            F.md5(
                F.concat_ws(" ", F.slice(F.col("w"), F.size("w") - (k - 1), k))
            ).alias("suff_h"),
            F.concat_ws(" ", F.slice(F.col("w"), F.size("w") - (k - 1), k)).alias(
                "boundary"
            ),
        )
    )
    up = b.select(
        F.col("doc_id").alias("upstream_doc"), F.col("suff_h").alias("bh"), "boundary"
    ).repartition(n_part, F.col("bh"))
    down = b.select(F.col("doc_id").alias("downstream_doc"), F.col("pref_h").alias("bh")).repartition(
        n_part, F.col("bh")
    )
    return (
        up.join(down, "bh")
        .filter(F.col("upstream_doc") != F.col("downstream_doc"))
        .select("upstream_doc", "downstream_doc", "boundary")
    )


Q125_SQL = rf"""
WITH d AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w FROM documents
), b AS (
  SELECT doc_id,
         md5(list_aggregate(list_slice(w, 1, {_STITCH_K}), 'string_agg', ' ')) AS pref_h,
         md5(list_aggregate(list_slice(w, len(w) - {_STITCH_K - 1}, len(w)),
                            'string_agg', ' ')) AS suff_h,
         list_aggregate(list_slice(w, len(w) - {_STITCH_K - 1}, len(w)),
                        'string_agg', ' ') AS boundary
  FROM d WHERE len(w) >= {_STITCH_K}
)
SELECT a.doc_id AS upstream_doc, c.doc_id AS downstream_doc, a.boundary
FROM b a JOIN b c ON a.suff_h = c.pref_h AND a.doc_id <> c.doc_id
"""


# --------------------------------------------------------------------------
# q126 — MinHash-LSH recall harness vs exact n-gram Jaccard
# --------------------------------------------------------------------------
def q126_lsh_recall(
    spark: SparkSession, sf_dir: str, sample_frac: float = 1.0
) -> DataFrame:
    """The text-side twin of q114's ANN recall harness: every EXACT
    near-dup pair (q29's n-gram Jaccard >= 0.8, same max_df cap) tagged
    with whether q28's MinHash-LSH banding actually surfaced it as a
    candidate. The (k, bands) knobs of a dedup deployment are tuned BY
    this table — at 100 TB you run it on a sampled shard against the
    production band configuration and read the recall before committing
    a corpus-wide job. Per-pair rows (not one summary scalar) so the
    oracle pins every individual hit/miss, and the plan stays join-keyed
    with no single-row cross join.

    Shape: both pair generators are the existing band-bucket /
    postings-join operators (nothing all-pairs); the tag is one LEFT
    join on the (a_id, b_id) pair key.

    ``sample_frac`` < 1 runs the whole harness over a deterministic md5
    DOCUMENT sample (plans/common.py::md5_sample_gate on doc_id) — the
    "sampled shard" path above, made explicit: both the exact-Jaccard
    truth and the LSH candidate generator see the same sub-corpus, so
    the recall estimate prices at sample size (the truth side's
    postings join is the expensive one). Document-level sampling, not
    pair-level: a pair is in-sample iff BOTH members are, which keeps
    every retained pair's jaccard arithmetic self-contained. max_df
    document frequencies are computed over the sample (the same
    semantics as running the harness on a shard). The oracle gate runs
    at frac=1.0, unchanged."""
    t = load_tables(spark, sf_dir)
    docs = t["documents"]
    if sample_frac < 1.0:
        docs = docs.filter(
            md5_sample_gate(F.col("doc_id"), sample_frac, salt="lshdoc")
        )
    truth, pins = ngram_jaccard_pairs(
        docs, "doc_id", "text", threshold=0.8, max_df=_J_MAX_DF
    )
    cand = minhash_lsh_pairs(docs, "doc_id", "text").select(
        "a_id", "b_id", F.lit(1).alias("_hit")
    )
    res = truth.join(cand, ["a_id", "b_id"], "left").select(
        "a_id",
        "b_id",
        F.round("jaccard", 6).alias("jaccard"),
        F.coalesce(F.col("_hit"), F.lit(0)).cast("bigint").alias("lsh_hit"),
    )
    return materialize_release(res, *pins)


Q126_SQL = f"""
WITH truth AS ({Q29_SQL}), cand AS ({Q28_SQL})
SELECT truth.a_id, truth.b_id,
       round(truth.jaccard, 6) AS jaccard,
       CAST(CASE WHEN cand.a_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS lsh_hit
FROM truth LEFT JOIN cand
  ON cand.a_id = truth.a_id AND cand.b_id = truth.b_id
"""


# --------------------------------------------------------------------------
# q127 — per-source token-distribution divergence (domain drift audit)
# --------------------------------------------------------------------------
def q127_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square homogeneity of each source's token distribution
    against the REST of the corpus — the drift audit a mixture owner
    runs when a crawl source changes character (template rollout,
    spam influx) before it poisons the training mix. Per source:
    chi2 = sum_tok N*(a*n2 - b*n1)^2 / (n1*n2*(a+b)) with a = the
    source's count, b = everyone else's, n1/n2 the stream sizes.

    SCALE CONVENTION (shared with q214): that closed form sums to
    N·χ² — the grand total times the Pearson statistic — not the
    textbook χ². Exact, cross-engine bit-identical, and
    order-preserving within one corpus (the ranking use), but divide
    by N before comparing against χ² critical values.

    Exactness: per-token contributions are single IEEE expressions
    (bit-identical across engines); the sum over tokens goes through
    plans/common.py::dsum decimals. Tokens the source never emits enter
    in CLOSED FORM — their contribution reduces to N*n1/n2 * b, so one
    bigint subtraction replaces a source x vocab grid expansion (the
    grid is the scale trap at a real vocabulary).

    Shape: one (source, tok) groupBy, one tok groupBy re-agg off it,
    a tok-keyed join, and a ~|sources|-row broadcast for the stream
    sizes. Top contributing token per source via a per-source window
    over the (bounded) per-source token set.
    """
    t = load_tables(spark, sf_dir)
    from pyspark import StorageLevel

    st = (
        t["documents"]
        .select("source", F.explode(tokenize(F.col("text"))).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("a"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    tot = st.groupBy("tok").agg(F.sum("a").alias("c_t"))
    ns = st.groupBy("source").agg(F.sum("a").alias("n1"))
    grand = ns.agg(F.sum("n1").alias("nn"))
    ns = ns.join(F.broadcast(grand)).withColumn("n2", F.col("nn") - F.col("n1"))
    j = (
        st.join(tot, "tok")
        .join(F.broadcast(ns), "source")
        .withColumn("b", F.col("c_t") - F.col("a"))
        .withColumn(
            "contrib",
            F.when(
                F.col("n2") > 0,
                F.col("nn").cast("double")
                * (
                    F.col("a").cast("double") * F.col("n2").cast("double")
                    - F.col("b").cast("double") * F.col("n1").cast("double")
                )
                * (
                    F.col("a").cast("double") * F.col("n2").cast("double")
                    - F.col("b").cast("double") * F.col("n1").cast("double")
                )
                / (
                    F.col("n1").cast("double")
                    * F.col("n2").cast("double")
                    * (F.col("a") + F.col("b")).cast("double")
                ),
            ),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    win = Window.partitionBy("source").orderBy(
        F.col("contrib").desc(), F.col("tok").asc()
    )
    top = (
        j.withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") == 1)
        .select("source", F.col("tok").alias("top_token"),
                F.round("contrib", 6).alias("top_contrib"))
    )
    agg = j.groupBy("source").agg(
        F.max("n1").cast("bigint").alias("n_tokens"),
        F.max("n2").cast("bigint").alias("n_rest"),
        dsum(F.col("contrib")).alias("_present"),
        F.sum("b").cast("bigint").alias("_b_present"),
        F.max("nn").alias("_nn"),
    )
    res = (
        agg.withColumn(
            "_zero",
            F.when(
                F.col("n_rest") > 0,
                F.col("_nn").cast("double")
                * F.col("n_tokens").cast("double")
                * (F.col("n_rest") - F.col("_b_present")).cast("double")
                / F.col("n_rest").cast("double"),
            ),
        )
        .join(top, "source")
        .select(
            "source",
            "n_tokens",
            "n_rest",
            F.round(F.col("_present") + F.col("_zero"), 6).alias("chi2"),
            "top_token",
            "top_contrib",
        )
    )
    return materialize_release(res, st, j)


Q127_SQL = rf"""
WITH st AS (
  SELECT source, tok, count(*) AS a
  FROM (SELECT source, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
        FROM documents)
  WHERE tok <> ''
  GROUP BY source, tok
), tot AS (
  SELECT tok, sum(a) AS c_t FROM st GROUP BY tok
), ns0 AS (
  SELECT source, sum(a) AS n1 FROM st GROUP BY source
), ns AS (
  SELECT source, n1, (SELECT sum(n1) FROM ns0) AS nn,
         (SELECT sum(n1) FROM ns0) - n1 AS n2
  FROM ns0
), j AS (
  SELECT st.source, st.tok, st.a, tot.c_t - st.a AS b, ns.n1, ns.n2, ns.nn,
         CASE WHEN ns.n2 > 0 THEN
           CAST(ns.nn AS DOUBLE)
           * (CAST(st.a AS DOUBLE) * CAST(ns.n2 AS DOUBLE)
              - CAST(tot.c_t - st.a AS DOUBLE) * CAST(ns.n1 AS DOUBLE))
           * (CAST(st.a AS DOUBLE) * CAST(ns.n2 AS DOUBLE)
              - CAST(tot.c_t - st.a AS DOUBLE) * CAST(ns.n1 AS DOUBLE))
           / (CAST(ns.n1 AS DOUBLE) * CAST(ns.n2 AS DOUBLE)
              * CAST(st.a + tot.c_t - st.a AS DOUBLE))
         END AS contrib
  FROM st JOIN tot USING (tok) JOIN ns USING (source)
), top AS (
  SELECT source, tok AS top_token, round(contrib, 6) AS top_contrib
  FROM (SELECT source, tok, contrib,
               row_number() OVER (PARTITION BY source
                                  ORDER BY contrib DESC, tok ASC) AS rn
        FROM j)
  WHERE rn = 1
), agg AS (
  SELECT source,
         CAST(max(n1) AS BIGINT) AS n_tokens,
         CAST(max(n2) AS BIGINT) AS n_rest,
         {sql_dsum('contrib')} AS present,
         CAST(sum(b) AS BIGINT) AS b_present,
         max(nn) AS nn
  FROM j GROUP BY source
)
SELECT agg.source, agg.n_tokens, agg.n_rest,
       round(agg.present
             + CASE WHEN agg.n_rest > 0 THEN
                 CAST(agg.nn AS DOUBLE) * CAST(agg.n_tokens AS DOUBLE)
                 * CAST(agg.n_rest - agg.b_present AS DOUBLE)
                 / CAST(agg.n_rest AS DOUBLE)
               END, 6) AS chi2,
       top.top_token, top.top_contrib
FROM agg JOIN top USING (source)
"""



# --------------------------------------------------------------------------
# q128 — z-normalized subsequence pattern search over the event stream
# --------------------------------------------------------------------------
#: Window length and the z-space query pattern (an up-ramp): the
#: UCR-suite-style subsequence search shape (cf. "Time Series Similarity
#: Search for Streaming Data in Distributed Systems", EDBT 2019).
_TS_M = 8
_TS_PATTERN = ("-1.2", "-0.8", "-0.4", "0.0", "0.4", "0.8", "1.2", "1.6")


def q128_ts_pattern_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user z-normalized sliding-window pattern match over the event
    value series: find each user's closest length-8 subsequence to a
    pinned z-space query pattern (squared Euclidean after per-window
    z-normalization) — the subsequence-similarity primitive behind
    anomaly/motif search on metric streams. At 100 TB the per-entity
    series is the partition grain (a user's history fits a row group);
    unbounded single entities get range-bucketed by time first.

    Exactness: sums/means/variance per window go through the proven
    sequential-left-fold idiom (Spark ``F.aggregate`` ↔ DuckDB
    ``list_reduce`` — bit-identical), sqrt is IEEE-correctly-rounded in
    both engines, and constant windows are excluded on the VARIANCE
    (never sqrt-of-negative NaN, whose comparison semantics differ by
    engine mood). Ranking orders by the UNROUNDED distance.

    Shape: one groupBy(user) with an ordered collect (bounded by the
    entity's history), a narrow explode of window starts (rows = events,
    not events x m), per-row fold arithmetic in the JVM, one per-user
    top-1 window over the (tiny) per-user candidate set.
    """
    t = load_tables(spark, sf_dir)
    m = _TS_M
    md = float(m)
    pat = F.array(*[F.lit(float(x)) for x in _TS_PATTERN])
    ser = (
        t["events"]
        .groupBy("user_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "value"))
            ).alias("ev")
        )
        .select("user_id", F.transform("ev", lambda e: e["value"]).alias("v"))
        .filter(F.size("v") >= m)
    )
    win = F.transform(
        F.sequence(F.lit(1), F.size("v") - (m - 1)),
        lambda j: F.struct(j.alias("start"), F.slice("v", j, m).alias("w")),
    )
    ex = (
        ser.select("user_id", F.explode(win).alias("wn"))
        .select(
            "user_id",
            F.col("wn.start").cast("int").alias("start_pos"),
            F.col("wn.w").alias("w"),
        )
        .withColumn("s1", F.aggregate("w", F.lit(0.0), lambda a, x: a + x))
        .withColumn("s2", F.aggregate("w", F.lit(0.0), lambda a, x: a + x * x))
        .withColumn("mu", F.col("s1") / F.lit(md))
        .withColumn("var", F.col("s2") / F.lit(md) - F.col("mu") * F.col("mu"))
        .filter(F.col("var") > 1e-12)
        .withColumn("sd", F.sqrt("var"))
        .withColumn(
            "dist",
            F.aggregate(
                F.sequence(F.lit(1), F.lit(m)),
                F.lit(0.0),
                lambda a, i: a
                + (
                    (F.element_at(F.col("w"), i) - F.col("mu")) / F.col("sd")
                    - F.element_at(pat, i)
                )
                * (
                    (F.element_at(F.col("w"), i) - F.col("mu")) / F.col("sd")
                    - F.element_at(pat, i)
                ),
            ),
        )
    )
    rn = Window.partitionBy("user_id").orderBy(
        F.col("dist").asc(), F.col("start_pos").asc()
    )
    return (
        ex.withColumn("rn", F.row_number().over(rn))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "start_pos",
            F.round("dist", 6).alias("zdist"),
        )
    )


_SQL_TS_PAT = "[" + ", ".join(_TS_PATTERN) + "]"

Q128_SQL = f"""
WITH ser AS (
  SELECT user_id, list(value ORDER BY ts, event_id) AS v
  FROM events GROUP BY user_id
), ex AS (
  SELECT user_id, CAST(s.j AS INT) AS start_pos,
         list_slice(v, s.j, s.j + {_TS_M - 1}) AS w
  FROM ser, LATERAL (SELECT unnest(range(1, len(v) - {_TS_M - 2})) AS j) s
  WHERE len(v) >= {_TS_M}
), st AS (
  SELECT user_id, start_pos, w,
         list_reduce(w, (a, b) -> a + b) / {_TS_M}.0 AS mu,
         list_reduce(list_transform(w, x -> x * x), (a, b) -> a + b)
           / {_TS_M}.0 AS m2
  FROM ex
), fin AS (
  SELECT user_id, start_pos, w, mu, sqrt(m2 - mu * mu) AS sd
  FROM st WHERE m2 - mu * mu > 1e-12
), d AS (
  SELECT user_id, start_pos,
         list_reduce(list_transform(range(1, {_TS_M + 1}),
           i -> ((w[CAST(i AS INT)] - mu) / sd - {_SQL_TS_PAT}[CAST(i AS INT)])
              * ((w[CAST(i AS INT)] - mu) / sd - {_SQL_TS_PAT}[CAST(i AS INT)])),
           (a, b) -> a + b) AS dist
  FROM fin
)
SELECT user_id, start_pos, round(dist, 6) AS zdist
FROM (SELECT user_id, start_pos, dist,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY dist ASC, start_pos ASC) AS rn
      FROM d)
WHERE rn = 1
"""


# --------------------------------------------------------------------------
# q129 — tokenizer fertility by language (multilingual tokenizer audit)
# --------------------------------------------------------------------------
def q129_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer fertility: apply q120's pinned BPE merge
    table to every word, then aggregate subwords-per-word and
    subwords-per-symbol BY LANGUAGE — the standard multilingual-equity
    audit (a tokenizer trained on English fragments low-resource
    languages into many more subwords per word, inflating their
    effective sequence length and training cost). One scan, narrow
    codegen'd merge folds, one languages-sized aggregate.
    """
    t = load_tables(spark, sf_dir)
    toks = (
        t["documents"]
        .select("lang", F.explode(tokenize(F.col("text"))).alias("tok"))
        .filter(F.length("tok") > 0)
    )
    s = F.concat(F.lit(" "), F.regexp_replace(F.col("tok"), r"(.)", r"$1 "))
    for a, b in _BPE_MERGES:
        for _ in range(2):  # q120's fixpoint-depth convention
            s = F.replace(s, F.lit(f" {a} {b} "), F.lit(f" {a}{b} "))
    enc = toks.select(
        "lang",
        F.length("tok").cast("bigint").alias("n_sym"),
        F.size(F.split(F.trim(s), " ")).cast("bigint").alias("n_sub"),
    )
    return enc.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_words"),
        F.sum("n_sym").cast("bigint").alias("n_symbols"),
        F.sum("n_sub").cast("bigint").alias("n_subwords"),
        F.round(
            F.sum("n_sub").cast("double") / F.count(F.lit(1)).cast("double"), 6
        ).alias("fertility"),
        F.round(
            F.sum("n_sub").cast("double") / F.sum("n_sym").cast("double"), 6
        ).alias("compression"),
    )


Q129_SQL = rf"""
WITH toks AS (
  SELECT lang, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
  FROM documents
), enc AS (
  SELECT lang,
         CAST(length(tok) AS BIGINT) AS n_sym,
         CAST(len(regexp_split_to_array(trim({_sql_bpe_chain()}), ' ')) AS BIGINT) AS n_sub
  FROM toks WHERE length(tok) > 0
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(n_sym) AS BIGINT) AS n_symbols,
       CAST(sum(n_sub) AS BIGINT) AS n_subwords,
       round(CAST(sum(n_sub) AS DOUBLE) / count(*), 6) AS fertility,
       round(CAST(sum(n_sub) AS DOUBLE) / CAST(sum(n_sym) AS DOUBLE), 6) AS compression
FROM enc GROUP BY lang
"""


# --------------------------------------------------------------------------
# q130 — T5-style span-corruption prep (deterministic mask selection)
# --------------------------------------------------------------------------
#: Span width in tokens and the mask rate denominator: a span is masked
#: when md5(doc_id # span_idx) ≡ 0 (mod 7) — ~14 %, near T5's 15 %.
_CORRUPT_SPAN = 3
_CORRUPT_MOD = 7


def q130_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-corruption pretraining prep (T5/UL2 class): partition each
    document into consecutive fixed-width token spans, deterministically
    mask ~1/7 of them keyed on md5(doc_id, span_idx), and emit the
    corrupted INPUT (masked spans replaced by a sentinel) plus the
    TARGET (the masked spans, in order) with retention stats. The
    deterministic hash gate makes the corruption reproducible across
    epochs/engines — no RNG state to ship.

    Shape: fully narrow — segmentation, mask flags, and both output
    strings are per-row array expressions (zip_with + filter + concat);
    zero shuffles, zero joins.
    """
    t = load_tables(spark, sf_dir)
    n = _CORRUPT_SPAN
    w = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    starts = F.sequence(F.lit(1), F.size("w"), F.lit(n))
    segs = F.transform(
        starts, lambda i: F.concat_ws(" ", F.slice(F.col("w"), i, n))
    )
    d = t["documents"].select("doc_id", w.alias("w")).select(
        "doc_id", segs.alias("segs")
    )
    idx = F.sequence(F.lit(0), F.size("segs") - 1)
    flags = F.transform(
        idx,
        lambda i: F.pmod(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("doc_id").cast("string"), F.lit("#"), i.cast("string")
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("bigint"),
            F.lit(_CORRUPT_MOD),
        )
        == 0,
    )
    d = d.select("doc_id", "segs", flags.alias("flags"))
    input_text = F.concat_ws(
        " ",
        F.zip_with(
            "segs", "flags", lambda s, fl: F.when(fl, F.lit("<extra_id>")).otherwise(s)
        ),
    )
    target_text = F.concat_ws(
        " ",
        F.filter(
            F.zip_with("segs", "flags", lambda s, fl: F.when(fl, s)),
            lambda x: x.isNotNull(),
        ),
    )
    n_masked = F.size(F.filter("flags", lambda x: x))
    return d.select(
        "doc_id",
        F.size("segs").cast("bigint").alias("n_spans"),
        n_masked.cast("bigint").alias("n_masked"),
        F.round(
            n_masked.cast("double") / F.size("segs").cast("double"), 6
        ).alias("masked_frac"),
        input_text.alias("input_text"),
        target_text.alias("target_text"),
    )


Q130_SQL = rf"""
WITH d AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w FROM documents
), seg AS (
  SELECT doc_id,
         list_transform(
           range(1, len(w) + 1, {_CORRUPT_SPAN}),
           i -> list_aggregate(list_slice(w, CAST(i AS INT),
                                          CAST(i AS INT) + {_CORRUPT_SPAN - 1}),
                               'string_agg', ' ')) AS segs
  FROM d
), fl AS (
  SELECT doc_id, segs,
         list_transform(
           range(0, len(segs)),
           i -> CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#' ||
                                         CAST(i AS VARCHAR)), 1, 15)) AS BIGINT)
                % {_CORRUPT_MOD} = 0) AS flags
  FROM seg
)
SELECT doc_id,
       CAST(len(segs) AS BIGINT) AS n_spans,
       CAST(len(list_filter(flags, x -> x)) AS BIGINT) AS n_masked,
       round(CAST(len(list_filter(flags, x -> x)) AS DOUBLE) / len(segs), 6)
         AS masked_frac,
       list_aggregate(
         list_transform(range(1, len(segs) + 1),
           i -> CASE WHEN flags[CAST(i AS INT)] THEN '<extra_id>'
                     ELSE segs[CAST(i AS INT)] END),
         'string_agg', ' ') AS input_text,
       COALESCE(list_aggregate(
         list_filter(list_transform(range(1, len(segs) + 1),
           i -> CASE WHEN flags[CAST(i AS INT)] THEN segs[CAST(i AS INT)] END),
           x -> x IS NOT NULL),
         'string_agg', ' '), '') AS target_text
FROM fl
"""



# --------------------------------------------------------------------------
# q131 — winnowing match pairs (MOSS-style copied-region triage)
# --------------------------------------------------------------------------
_WN_MIN_SHARED = 2
#: Stop-fingerprint cap: a fingerprint hash present in more than this
#: many documents is boilerplate/saturation, not a copy signal, and its
#: pair fan-out is quadratic in the bucket — the same bound as the
#: Jaccard path's ``_J_MAX_DF``. (On this tiny-vocab corpus the cap cuts
#: the sf0.1 pair set 13x; on a real corpus it bounds the worst key.)
_WN_MAX_BUCKET = 100


def q131_winnow_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document pairs sharing >= 2 winnowing fingerprint hashes — q122's
    match step (`operators/dedup.py::winnow_match_pairs`). n_shared
    lower-bounds the number of independently-copied >= k+w-1-char
    regions between the pair, the triage ranking a copied-content
    reviewer works down. Also the batch reference for the streaming
    `winnow_ingest_sink` (stream ≡ batch pinned in test_streaming).

    Shape: zero-shuffle fingerprinting, a stop-fingerprint cap BEFORE
    the join (``_WN_MAX_BUCKET`` — bounds the per-key pair fan-out at
    any corpus), one hash equi-join pinned to an explicit repartition
    (quadratic-output AQE guard), one pair groupBy.
    """
    t = load_tables(spark, sf_dir)
    pairs, pins = winnow_match_pairs(
        t["documents"], "doc_id", "text",
        k=_WINNOW_K, w=_WINNOW_W, min_shared=_WN_MIN_SHARED,
        max_bucket=_WN_MAX_BUCKET,
    )
    return materialize_release(pairs, *pins)


Q131_SQL = f"""
WITH fps AS ({Q122_SQL}), fp0 AS (
  SELECT DISTINCT doc_id, fp_hash FROM fps
), keep AS (
  SELECT fp_hash FROM fp0 GROUP BY fp_hash
  HAVING count(*) <= {_WN_MAX_BUCKET}
), fp AS (
  SELECT fp0.doc_id, fp0.fp_hash FROM fp0 JOIN keep USING (fp_hash)
)
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       CAST(count(*) AS BIGINT) AS n_shared
FROM fp a JOIN fp b ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING count(*) >= {_WN_MIN_SHARED}
"""



# --------------------------------------------------------------------------
# q132 — PageRank over the near-dup graph (pinned-iteration unroll)
# --------------------------------------------------------------------------
_PR_ITERS = 3


def q132_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the exact near-dup graph (q29's Jaccard pairs as
    undirected edges): the duplicate-graph CENTRALITY signal — a
    document whose rank concentrates sits at the middle of a copy
    cluster (canonical-source candidate), complementary to q72's flat
    component labels. Simplified-PR variant: dangling mass is not
    redistributed (isolated docs keep the 0.15/N base), standard for
    in-corpus triage rankings.

    Iteration count is PINNED at 3 and the driver loop unrolls to
    DataFrame joins, so the DuckDB oracle is the same computation as
    3 chained CTEs (q94's trainer-unroll idiom). Exactness: per-edge
    contributions pr/deg are single IEEE divisions; the per-node
    incoming sum goes through decimal(38,18) (order-insensitive, 1e-18
    quantization identical in both engines); 0.15/0.85 enter as DOUBLE
    literals on both sides (DuckDB decimal-literal trap avoided).

    Scale shape per iteration: one src-keyed join shuffle + one
    dst-keyed agg — ranks are node-sized (never broadcast at scale),
    edges persist once and reuse their exchange across iterations. The
    3-round cost is the CC operator's class, not an open-ended loop.
    """
    from pyspark import StorageLevel

    t = load_tables(spark, sf_dir)
    nn = t["documents"].count()
    if nn == 0:
        return spark.createDataFrame([], "doc_id bigint, pagerank double")
    pairs, pins = ngram_jaccard_pairs(
        t["documents"], "doc_id", "text", threshold=0.8, max_df=_J_MAX_DF
    )
    edges = (
        pairs.select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
        .unionByName(
            pairs.select(F.col("b_id").alias("src"), F.col("a_id").alias("dst"))
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    ed = edges.join(deg, "src").persist(StorageLevel.MEMORY_AND_DISK)
    nodes = t["documents"].select(F.col("doc_id").alias("node"))
    ranks = nodes.withColumn("pr", F.lit(1.0 / nn))
    base = 0.15 / nn
    for _ in range(_PR_ITERS):
        contrib = (
            ed.join(ranks, ed["src"] == ranks["node"])
            .select("dst", (F.col("pr") / F.col("deg").cast("double")).alias("c"))
            .groupBy("dst")
            .agg(F.sum(F.col("c").cast("decimal(38,18)")).cast("double").alias("s"))
        )
        ranks = nodes.join(
            contrib, nodes["node"] == contrib["dst"], "left"
        ).select(
            "node",
            (
                F.lit(base) + F.lit(0.85) * F.coalesce(F.col("s"), F.lit(0.0))
            ).alias("pr"),
        )
    res = ranks.select(
        F.col("node").alias("doc_id"), F.round("pr", 9).alias("pagerank")
    )
    return materialize_release(res, edges, ed, *pins)


def _sql_pr_round(prev: str, out: str) -> str:
    return f"""{out}_c AS (
  SELECT e.dst AS node,
         CAST(SUM(CAST(r.pr / CAST(e.deg AS DOUBLE) AS DECIMAL(38,18)))
              AS DOUBLE) AS s
  FROM ed e JOIN {prev} r ON r.node = e.src
  GROUP BY e.dst
), {out} AS (
  SELECT n.node,
         CAST(0.15 AS DOUBLE) / nn.nn
           + CAST(0.85 AS DOUBLE) * COALESCE(c.s, CAST(0.0 AS DOUBLE)) AS pr
  FROM nodes n CROSS JOIN nnode nn
  LEFT JOIN {out}_c c ON c.node = n.node
)"""


Q132_SQL = f"""
WITH pairs AS ({Q29_SQL}),
edges AS (
  SELECT a_id AS src, b_id AS dst FROM pairs
  UNION ALL
  SELECT b_id AS src, a_id AS dst FROM pairs
),
deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
ed AS (SELECT e.src, e.dst, deg.deg FROM edges e JOIN deg ON e.src = deg.src),
nnode AS (SELECT CAST(count(*) AS DOUBLE) AS nn FROM documents),
nodes AS (SELECT doc_id AS node FROM documents),
r0 AS (SELECT n.node, CAST(1.0 AS DOUBLE) / nn.nn AS pr
       FROM nodes n CROSS JOIN nnode nn),
{_sql_pr_round("r0", "r1")},
{_sql_pr_round("r1", "r2")},
{_sql_pr_round("r2", "r3")}
SELECT node AS doc_id, round(pr, 9) AS pagerank FROM r3
"""



# --------------------------------------------------------------------------
# q133 — lexical diversity (TTR + Simpson repeat probability)
# --------------------------------------------------------------------------
def q133_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document lexical diversity: type-token ratio and the Simpson
    repeat probability sum c_i(c_i-1) / (n(n-1)) — the probability two
    random token draws are the same type. Low-diversity documents
    (template spam, keyword stuffing) filter out on this axis where
    q84's adjacent-repetition metrics miss scattered repeats. Entirely
    log-free by construction (unlike Shannon entropy, which is not
    bit-portable): integer products, one final IEEE division.

    Shape: one (doc, tok) count shuffle, one doc re-agg derived from it.
    """
    t = load_tables(spark, sf_dir)
    tf = (
        t["documents"]
        .select("doc_id", F.explode(tokenize(F.col("text"))).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        tf.groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.count(F.lit(1)).cast("bigint").alias("n_types"),
            F.sum(F.col("c") * (F.col("c") - 1)).cast("bigint").alias("_rep"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_types",
            F.round(
                F.col("n_types").cast("double") / F.col("n_tokens").cast("double"), 6
            ).alias("ttr"),
            F.when(
                F.col("n_tokens") > 1,
                F.round(
                    F.col("_rep").cast("double")
                    / (F.col("n_tokens") * (F.col("n_tokens") - 1)).cast("double"),
                    6,
                ),
            ).alias("simpson"),
        )
    )


Q133_SQL = r"""
WITH tf AS (
  SELECT doc_id, tok, count(*) AS c
  FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
        FROM documents)
  WHERE tok <> ''
  GROUP BY doc_id, tok
), agg AS (
  SELECT doc_id,
         CAST(sum(c) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS n_types,
         CAST(sum(c * (c - 1)) AS BIGINT) AS rep
  FROM tf GROUP BY doc_id
)
SELECT doc_id, n_tokens, n_types,
       round(CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS ttr,
       CASE WHEN n_tokens > 1 THEN
         round(CAST(rep AS DOUBLE) / CAST(n_tokens * (n_tokens - 1) AS DOUBLE), 6)
       END AS simpson
FROM agg
"""


# --------------------------------------------------------------------------
# q134 — vocabulary growth curve (Heaps-law audit over corpus prefixes)
# --------------------------------------------------------------------------
_VG_BUCKETS = 10


def q134_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth over corpus prefixes: bucket documents into 10
    id-ordered slices, count the NEW token types first seen in each
    slice, and emit the cumulative vocabulary curve — the Heaps-law
    diagnostic a tokenizer-budget owner reads before freezing a vocab
    (a curve still climbing steeply at the corpus edge means the vocab
    will be stale next crawl).

    Scale shape: first-occurrence is min(doc_id) per token (one
    key-bounded shuffle — never a sort of the corpus); bucketing is
    ARITHMETIC on the id against a 1-row max broadcast (no ntile — a
    global ntile would single-partition-sort every document); the
    running sum runs over the 10-row bucket table.
    """
    t = load_tables(spark, sf_dir)
    toks = t["documents"].select(
        "doc_id", F.explode(tokenize(F.col("text"))).alias("tok")
    ).filter(F.col("tok") != "")
    mx = t["documents"].agg(F.max("doc_id").alias("mx"))
    first = toks.groupBy("tok").agg(F.min("doc_id").alias("first_doc"))
    fb = first.join(F.broadcast(mx)).select(
        F.least(
            F.lit(_VG_BUCKETS - 1),
            F.expr(f"CAST(first_doc * {_VG_BUCKETS} DIV (mx + 1) AS BIGINT)"),
        ).alias("bucket")
    )
    new_types = fb.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("new_types")
    )
    docs_b = (
        t["documents"]
        .join(F.broadcast(mx))
        .select(
            F.least(
                F.lit(_VG_BUCKETS - 1),
                F.expr(f"CAST(doc_id * {_VG_BUCKETS} DIV (mx + 1) AS BIGINT)"),
            ).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )
    win = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return (
        docs_b.join(new_types, "bucket", "left")
        .select(
            "bucket",
            "n_docs",
            F.coalesce("new_types", F.lit(0)).cast("bigint").alias("new_types"),
        )
        .withColumn("cum_types", F.sum("new_types").over(win).cast("bigint"))
    )


Q134_SQL = rf"""
WITH toks AS (
  SELECT doc_id, tok
  FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
        FROM documents)
  WHERE tok <> ''
), mx AS (SELECT max(doc_id) AS mx FROM documents),
first AS (SELECT tok, min(doc_id) AS first_doc FROM toks GROUP BY tok),
nt AS (
  SELECT least({_VG_BUCKETS - 1}, first_doc * {_VG_BUCKETS} // (mx.mx + 1)) AS bucket,
         CAST(count(*) AS BIGINT) AS new_types
  FROM first CROSS JOIN mx GROUP BY 1
), db AS (
  SELECT least({_VG_BUCKETS - 1}, doc_id * {_VG_BUCKETS} // (mx.mx + 1)) AS bucket,
         CAST(count(*) AS BIGINT) AS n_docs
  FROM documents CROSS JOIN mx GROUP BY 1
)
SELECT db.bucket, db.n_docs,
       CAST(COALESCE(nt.new_types, 0) AS BIGINT) AS new_types,
       CAST(sum(COALESCE(nt.new_types, 0))
              OVER (ORDER BY db.bucket
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum_types
FROM db LEFT JOIN nt ON nt.bucket = db.bucket
"""



# --------------------------------------------------------------------------
# q135 — quality-aware dedup survivorship (keep the BEST doc per cluster)
# --------------------------------------------------------------------------
def q135_quality_keeper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical selection: label every document with its
    near-dup cluster (q72's connected components over the exact Jaccard
    graph) and keep the HIGHEST-QUALITY member per cluster (q25's score,
    ties to the lowest id) — what production dedup actually ships, where
    min-id keepers (q72/SemDeDup's default) throw away the cleanest copy
    whenever it arrived late. Singleton docs are their own cluster and
    always keep.

    Shape: the pair+CC cost is q72's (group-bounded pairs, O(log n)
    pointer-jumping rounds); quality is a narrow per-row expression; the
    keeper pick is one per-cluster window over cluster-sized groups.
    Ranking uses the UNROUNDED score (IEEE-identical per row in both
    engines); the emitted score is rounded for display.
    """
    from ..operators.components import connected_components

    t = load_tables(spark, sf_dir)
    pairs, pins = ngram_jaccard_pairs(
        t["documents"], "doc_id", "text", threshold=0.8, max_df=_J_MAX_DF
    )
    comp = connected_components(pairs.select("a_id", "b_id"), "a_id", "b_id")
    staged = t["documents"].select(
        "doc_id", "text", tokenize(F.col("text")).alias("toks")
    )
    feats = quality_features(F.col("text"), F.col("toks"))
    dq = staged.select("doc_id", feats["quality_score"].alias("qs"))
    j = dq.join(comp, dq["doc_id"] == comp["node"], "left").select(
        "doc_id",
        F.coalesce(F.col("component"), F.col("doc_id")).alias("component"),
        "qs",
    )
    win = Window.partitionBy("component").orderBy(
        F.col("qs").desc(), F.col("doc_id").asc()
    )
    res = j.withColumn("rn", F.row_number().over(win)).select(
        "doc_id",
        "component",
        F.round("qs", 6).alias("quality_score"),
        (F.col("rn") == 1).alias("is_keeper"),
    )
    return materialize_release(res, *pins)


Q135_SQL = f"""
WITH RECURSIVE
pairs AS (SELECT a_id, b_id FROM ({Q29_SQL}) q),
sym AS (
  SELECT a_id AS sa, b_id AS sb FROM pairs
  UNION
  SELECT b_id, a_id FROM pairs
),
reach(node, lab) AS (
  SELECT sa, sa FROM sym
  UNION
  SELECT s.sb, r.lab FROM reach r JOIN sym s ON s.sa = r.node
),
comp AS (SELECT node, min(lab) AS component FROM reach GROUP BY node),
qual AS (SELECT doc_id, quality_score AS qs FROM ({Q25_SQL}) q)
SELECT doc_id, component, round(qs, 6) AS quality_score, rn = 1 AS is_keeper
FROM (
  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component, q.qs,
         row_number() OVER (
           PARTITION BY COALESCE(c.component, d.doc_id)
           ORDER BY q.qs DESC, d.doc_id ASC) AS rn
  FROM documents d
  JOIN qual q ON q.doc_id = d.doc_id
  LEFT JOIN comp c ON c.node = d.doc_id
)
"""



# --------------------------------------------------------------------------
# q136 — decontaminated train/eval split (assign, then excise collisions)
# --------------------------------------------------------------------------
_SPLIT_N = 13  # verbatim-overlap gram width (q86's standard)


def q136_decontaminated_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The other half of held-out hygiene: q102 keeps DUPLICATE GROUPS
    on one side of the split; this one assigns an 80/20 train/eval split
    by id hash, then EXCISES from train every document sharing a
    verbatim 13-gram with any eval document (q86's collision machinery
    pointed at the split boundary). Output: every document with its
    final disposition — ``eval``, ``train``, or ``train_dropped`` — the
    table a training job's reader filters on.

    Shape: the split gate is a narrow md5 expression; contamination is
    ONE distinct-digest semi-join (train grams against the DISTINCT
    eval gram set — never doc x doc); disposition is a projection.
    """
    n = _SPLIT_N
    t = load_tables(spark, sf_dir)
    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10).cast(
        "bigint"
    )
    d = t["documents"].select(
        "doc_id", tokenize(F.col("text")).alias("w"), F.pmod(h, 10).alias("_b")
    )
    d = d.withColumn("split", F.when(F.col("_b") < 8, F.lit("train")).otherwise(F.lit("eval")))
    grams = d.filter(F.size("w") >= n).select(
        "doc_id",
        "split",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("w") - (n - 1)),
                lambda i: F.md5(F.concat_ws(" ", F.slice(F.col("w"), i, n))),
            )
        ).alias("g"),
    )
    eval_g = grams.filter(F.col("split") == "eval").select("g").distinct()
    dirty = (
        grams.filter(F.col("split") == "train")
        .join(eval_g, "g", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("_dirty", F.lit(1))
    )
    return d.join(dirty, "doc_id", "left").select(
        "doc_id",
        F.when(F.col("split") == "eval", F.lit("eval"))
        .when(F.col("_dirty").isNotNull(), F.lit("train_dropped"))
        .otherwise(F.lit("train"))
        .alias("disposition"),
    )


Q136_SQL = rf"""
WITH d AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w,
         CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                   % 10 < 8
              THEN 'train' ELSE 'eval' END AS split
  FROM documents
), grams AS (
  SELECT doc_id, split,
         md5(list_aggregate(list_slice(w, CAST(s.i AS INT),
                                       CAST(s.i AS INT) + {_SPLIT_N - 1}),
                            'string_agg', ' ')) AS g
  FROM d, LATERAL (SELECT unnest(range(1, len(w) - {_SPLIT_N - 2})) AS i) s
  WHERE len(w) >= {_SPLIT_N}
), eval_g AS (
  SELECT DISTINCT g FROM grams WHERE split = 'eval'
), dirty AS (
  SELECT DISTINCT doc_id FROM grams
  WHERE split = 'train' AND g IN (SELECT g FROM eval_g)
)
SELECT d.doc_id,
       CASE WHEN d.split = 'eval' THEN 'eval'
            WHEN dirty.doc_id IS NOT NULL THEN 'train_dropped'
            ELSE 'train' END AS disposition
FROM d LEFT JOIN dirty ON dirty.doc_id = d.doc_id
"""


# --------------------------------------------------------------------------
# q137 — drop ledger: every document's FIRST applicable drop reason
# --------------------------------------------------------------------------
#: Ledger thresholds (the composing queries' own knobs).
_LEDGER_MIN_QUALITY = 0.45
_LEDGER_MIN_KEPT_FRAC = 0.5


def q137_drop_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The explainability table every corpus pipeline owes its users:
    one row per document with its FIRST applicable drop reason in
    precedence order — ``exact_dup`` (not the min-id keeper of its
    content digest), ``near_dup`` (in a Jaccard cluster, not the min-id
    keeper), ``boilerplate`` (q121 keeps < 50 % of its spans),
    ``low_quality`` (q25 score below 0.45) — or ``kept``. A mixture
    audit sums this ledger instead of re-deriving four operators'
    outputs; a takedown/debug request greps it for one id.

    Shape: four operator subtrees the registry already prices
    (digest groupBy; group-bounded pairs + CC; span-hash df filter;
    narrow quality expression) joined back on doc_id, disposition as
    one CASE projection.
    """
    from ..operators.components import connected_components

    t = load_tables(spark, sf_dir)
    docs = t["documents"]
    # exact-dup keeper: min doc_id per content digest
    keeper = (
        docs.select("doc_id", F.md5("text").alias("dig"))
        .withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("dig").orderBy("doc_id")),
        )
        .select("doc_id", (F.col("rn") == 1).alias("is_first"))
    )
    pairs, pins = ngram_jaccard_pairs(
        docs, "doc_id", "text", threshold=0.8, max_df=_J_MAX_DF
    )
    comp = connected_components(pairs.select("a_id", "b_id"), "a_id", "b_id")
    bp, bp_pins = boilerplate_filter(
        docs, "doc_id", "text", SEGMENT_TOKENS, _BP_MAX_DOC_DF
    )
    bp = bp.select("doc_id", "kept_frac")
    staged = docs.select("doc_id", "text", tokenize(F.col("text")).alias("toks"))
    feats = quality_features(F.col("text"), F.col("toks"))
    qual = staged.select("doc_id", feats["quality_score"].alias("qs"))
    j = (
        docs.select("doc_id")
        .join(keeper, "doc_id")
        .join(comp, F.col("doc_id") == comp["node"], "left")
        .join(bp, "doc_id")
        .join(qual, "doc_id")
    )
    res = j.select(
        "doc_id",
        F.when(~F.col("is_first"), F.lit("exact_dup"))
        .when(
            F.col("component").isNotNull() & (F.col("component") != F.col("doc_id")),
            F.lit("near_dup"),
        )
        .when(F.col("kept_frac") < _LEDGER_MIN_KEPT_FRAC, F.lit("boilerplate"))
        .when(F.col("qs") < _LEDGER_MIN_QUALITY, F.lit("low_quality"))
        .otherwise(F.lit("kept"))
        .alias("reason"),
    )
    return materialize_release(res, *pins, *bp_pins)


Q137_SQL = f"""
WITH RECURSIVE
keeper AS (
  SELECT doc_id,
         row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1 AS is_first
  FROM documents
),
pairs AS (SELECT a_id, b_id FROM ({Q29_SQL}) q),
sym AS (
  SELECT a_id AS sa, b_id AS sb FROM pairs
  UNION
  SELECT b_id, a_id FROM pairs
),
reach(node, lab) AS (
  SELECT sa, sa FROM sym
  UNION
  SELECT s.sb, r.lab FROM reach r JOIN sym s ON s.sa = r.node
),
comp AS (SELECT node, min(lab) AS component FROM reach GROUP BY node),
bp AS (SELECT doc_id, kept_frac FROM ({Q121_SQL}) q),
qual AS (SELECT doc_id, quality_score AS qs FROM ({Q25_SQL}) q)
SELECT d.doc_id,
       CASE WHEN NOT k.is_first THEN 'exact_dup'
            WHEN c.component IS NOT NULL AND c.component <> d.doc_id THEN 'near_dup'
            WHEN bp.kept_frac < {_LEDGER_MIN_KEPT_FRAC} THEN 'boilerplate'
            WHEN q.qs < {_LEDGER_MIN_QUALITY} THEN 'low_quality'
            ELSE 'kept' END AS reason
FROM documents d
JOIN keeper k ON k.doc_id = d.doc_id
LEFT JOIN comp c ON c.node = d.doc_id
JOIN bp ON bp.doc_id = d.doc_id
JOIN qual q ON q.doc_id = d.doc_id
"""



# --------------------------------------------------------------------------
# q138 — PQ/ADC recall harness vs the exact distance ranking
# --------------------------------------------------------------------------
def q138_adc_recall(
    spark: SparkSession, sf_dir: str, sample_frac: float = 1.0
) -> DataFrame:
    """Closes the PQ family's eval loop (q114 scores IVF, this scores
    the compressed path): every vector in the TRUE top-10 by exact
    squared distance to the pinned query, tagged with whether q107's
    ADC ranking surfaced it. The (m, k) compression knobs are tuned BY
    this table — quantization error is invisible in q107's own exact
    gate (which pins the ADC arithmetic, not its fidelity). Per-row
    tags, no single-row cross join; the exact side is one narrow scan +
    a bounded TakeOrdered, never an n x n join.

    ``sample_frac`` < 1 evaluates fidelity over a deterministic md5
    sub-corpus (md5_sample_gate on vec_id): the exact scan AND the ADC
    ranking both run over the sampled codes — the PQ index itself stays
    the fixed full-corpus artifact (codebooks trained on everything),
    so the number still measures the production quantizer. The oracle
    gate runs at frac=1.0, unchanged.
    """
    t = load_tables(spark, sf_dir)
    emb = t["embeddings"]
    gate = None
    if sample_frac < 1.0:
        gate = md5_sample_gate(F.col("vec_id"), sample_frac, salt="adcs")
        emb = emb.filter(gate)
    q = F.array(*[F.lit(float(v)) for v in _ADC_QUERY])
    vd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    dist = F.aggregate(
        F.zip_with(F.col("vd"), q, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    ex = (
        emb
        .select("vec_id", vd.alias("vd"))
        .select("vec_id", dist.alias("true_dist"))
        .orderBy(F.col("true_dist").asc(), F.col("vec_id").asc())
        .limit(_ADC_TOPN)
    )
    adc = _pq_adc_ranked(spark, sf_dir, id_gate=gate).select(
        "vec_id", F.lit(1).alias("_hit")
    )
    return ex.join(adc, "vec_id", "left").select(
        "vec_id",
        F.round("true_dist", 6).alias("true_dist"),
        F.coalesce(F.col("_hit"), F.lit(0)).cast("bigint").alias("adc_hit"),
    )


Q138_SQL = f"""
WITH adc AS ({Q107_SQL}),
v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
  FROM embeddings
), exd AS (
  SELECT vec_id,
         list_reduce(list_transform(range(1, len(vd) + 1),
           i -> (vd[CAST(i AS INT)] - {_adc_q_sql}[CAST(i AS INT)])
              * (vd[CAST(i AS INT)] - {_adc_q_sql}[CAST(i AS INT)])),
           (a, b) -> a + b) AS true_dist
  FROM v
), ex AS (
  SELECT vec_id, true_dist FROM exd
  ORDER BY true_dist ASC, vec_id ASC LIMIT {_ADC_TOPN}
)
SELECT ex.vec_id, round(ex.true_dist, 6) AS true_dist,
       CAST(CASE WHEN adc.vec_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS adc_hit
FROM ex LEFT JOIN adc ON adc.vec_id = ex.vec_id
"""



# --------------------------------------------------------------------------
# q139 — per-source quality trend (distributed least squares)
# --------------------------------------------------------------------------
def q139_quality_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Is a source's quality drifting? Per-source least-squares slope of
    q25's quality score over arrival order (doc_id as the order proxy):
    slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²). The monitoring number a
    crawl operator alerts on — a negative slope on a big source means
    the recent crawl is polluting the mix and the cutoff knob needs to
    move BEFORE the next training run ingests it.

    Exactness: the x-sums (ids) go through decimal(38,0) — Spark's
    bigint SUM overflows where DuckDB silently widens to HUGEINT, so
    both engines are pinned to the same 128-bit-exact lane; the y/xy
    sums use the dsum decimal idiom; the slope assembly is one shared
    IEEE expression. n < 2 or constant-x groups yield NULL, not a
    division error. Shape: one narrow quality pass, ONE partial-aggable
    groupBy(source) — no window, no sort, mergeable at any scale.
    """
    t = load_tables(spark, sf_dir)
    staged = t["documents"].select(
        "doc_id", "source", "text", tokenize(F.col("text")).alias("toks")
    )
    feats = quality_features(F.col("text"), F.col("toks"))
    d = staged.select(
        "source",
        F.col("doc_id").alias("x"),
        feats["quality_score"].alias("y"),
    )
    agg = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).cast("double").alias("sx"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).cast("double").alias("sxx"),
        dsum(F.col("y")).alias("sy"),
        dsum(F.col("x").cast("double") * F.col("y")).alias("sxy"),
    )
    den = F.col("n").cast("double") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = (
        F.col("n").cast("double") * F.col("sxy") - F.col("sx") * F.col("sy")
    ) / den
    return agg.select(
        "source",
        "n",
        F.when(den > 0, F.round(slope, 9)).alias("slope"),
        F.when(
            den > 0,
            F.round((F.col("sy") - slope * F.col("sx")) / F.col("n").cast("double"), 6),
        ).alias("intercept"),
        F.round(F.col("sy") / F.col("n").cast("double"), 6).alias("mean_quality"),
    )


Q139_SQL = f"""
WITH qual AS (
  SELECT q.doc_id, d.source, q.quality_score AS y
  FROM ({Q25_SQL}) q JOIN documents d ON d.doc_id = q.doc_id
), agg AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(CAST(doc_id AS DECIMAL(38,0))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(doc_id AS DECIMAL(38,0)) * doc_id) AS DOUBLE) AS sxx,
         {sql_dsum('y')} AS sy,
         {sql_dsum('CAST(doc_id AS DOUBLE) * y')} AS sxy
  FROM qual GROUP BY source
)
SELECT source, n,
       CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx > 0 THEN
         round((CAST(n AS DOUBLE) * sxy - sx * sy)
               / (CAST(n AS DOUBLE) * sxx - sx * sx), 9)
       END AS slope,
       CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx > 0 THEN
         round((sy - (CAST(n AS DOUBLE) * sxy - sx * sy)
                      / (CAST(n AS DOUBLE) * sxx - sx * sx) * sx)
               / CAST(n AS DOUBLE), 6)
       END AS intercept,
       round(sy / CAST(n AS DOUBLE), 6) AS mean_quality
FROM agg
"""


# --------------------------------------------------------------------------
# q140 — contrastive crop pairs (SimCSE/CLIP-style positive generation)
# --------------------------------------------------------------------------
#: Crop fraction numerator over 10: each view keeps ceil(0.6·n) tokens.
_CROP_TENTHS = 6
_CROP_MIN_TOKENS = 5


def q140_crop_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-pretraining positives without augmentation RNG: two
    deterministic overlapping crops per document (first 60 % of tokens /
    last 60 %) as the anchor/positive pair, plus the overlap width the
    loss-weighting reads. The standard self-supervised positive-pair
    generator, made reproducible — re-running the pipeline regenerates
    byte-identical pairs, so a resumed training run sees the same data.

    Fully narrow: per-row slices and integer ceil arithmetic
    ((6n+9) DIV 10 — no float rounding at the boundary), zero shuffles.
    """
    t = load_tables(spark, sf_dir)
    d = t["documents"].select(
        "doc_id", tokenize(F.col("text")).alias("w")
    ).filter(F.size("w") >= _CROP_MIN_TOKENS)
    crop = F.expr(f"CAST((size(w) * {_CROP_TENTHS} + 9) DIV 10 AS INT)")
    d = d.withColumn("crop", crop)
    return d.select(
        "doc_id",
        F.size("w").cast("bigint").alias("n_tokens"),
        F.col("crop").cast("bigint").alias("crop_tokens"),
        (F.lit(2) * F.col("crop") - F.size("w")).cast("bigint").alias("overlap_tokens"),
        F.concat_ws(" ", F.slice(F.col("w"), 1, F.col("crop"))).alias("anchor_text"),
        F.concat_ws(
            " ",
            F.slice(F.col("w"), F.size("w") - F.col("crop") + 1, F.col("crop")),
        ).alias("positive_text"),
    )


Q140_SQL = rf"""
WITH d AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w
  FROM documents
), c AS (
  SELECT doc_id, w, CAST((len(w) * {_CROP_TENTHS} + 9) // 10 AS INT) AS crop
  FROM d WHERE len(w) >= {_CROP_MIN_TOKENS}
)
SELECT doc_id,
       CAST(len(w) AS BIGINT) AS n_tokens,
       CAST(crop AS BIGINT) AS crop_tokens,
       CAST(2 * crop - len(w) AS BIGINT) AS overlap_tokens,
       list_aggregate(list_slice(w, 1, crop), 'string_agg', ' ') AS anchor_text,
       list_aggregate(list_slice(w, len(w) - crop + 1, len(w)), 'string_agg', ' ')
         AS positive_text
FROM c
"""



# --------------------------------------------------------------------------
# q141 — Gopher quality rules (Rae et al. 2021, Appendix A1.1)
# --------------------------------------------------------------------------
#: Word-count bracket, scaled to this corpus (Gopher: [50, 100_000]).
_GOPHER_MIN_WORDS = 30
_GOPHER_MAX_WORDS = 400
#: Mean-word-length bracket (Gopher: [3, 10]).
_GOPHER_MIN_MWL = 3.0
_GOPHER_MAX_MWL = 10.0
#: Required-stopword set: a document must contain >= 2 distinct members.
#: Gopher's published set is the/be/to/of/and/that/have/with; substituted
#: with the engine's English stopword table (functions/text.py) so the
#: rule discriminates on this corpus's vocabulary — the rule SHAPE
#: (>= 2 distinct members of a fixed closed-class set) is the spec.
_GOPHER_REQ_STOPS = ("the", "a", "of", "and", "to", "in", "is", "it")


def q141_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher rule-based quality filter (Rae et al. 2021, A1.1) as
    per-document audit flags: word-count bracket, mean-word-length
    bracket, symbol-to-word ratio (# and ellipsis), fraction of words
    containing an alphabetic character, and the required-stopword rule
    (>= 2 distinct members of ``_GOPHER_REQ_STOPS`` — the engine's
    substituted closed-class set; see the constant's comment for why it
    differs from Gopher's published words). Emitting the
    individual rule verdicts (not just the AND) is what a curation
    operator actually reads: the marginal drop rate of each rule is the
    knob-tuning signal. Complements q25's continuous score (ref
    behavior class: corpus gating before training) — these are the
    published hard rules.

    Exactness: all-integer counts; mean word length is the exact
    (chars - (tokens-1)) / tokens shared with quality_features; symbol
    counts via leftmost-non-overlapping replace() (identical in both
    engines, the q120 idiom). Shape: one narrow pass, zero shuffles —
    the filter is a map at any scale, and streams unchanged (pure
    Column expressions, the corpus_ingest_stream contract).
    """
    t = load_tables(spark, sf_dir)
    d = t["documents"].select(
        "doc_id", "text", tokenize(F.col("text")).alias("toks")
    )
    n_tokens = F.size("toks").cast("bigint")
    n_chars = F.length("text").cast("bigint")
    mwl = F.when(
        n_tokens > 0,
        (n_chars - (n_tokens - 1)).cast("double") / n_tokens.cast("double"),
    ).otherwise(F.lit(0.0))
    n_hash = n_chars - F.length(F.replace(F.col("text"), F.lit("#"), F.lit("")))
    n_ell = (
        n_chars - F.length(F.replace(F.col("text"), F.lit("..."), F.lit("")))
    ) / F.lit(3)
    sym_ratio = F.when(
        n_tokens > 0,
        (n_hash + n_ell).cast("double") / n_tokens.cast("double"),
    ).otherwise(F.lit(0.0))
    alpha_words = F.size(F.filter(F.col("toks"), lambda x: x.rlike("[a-z]")))
    alpha_frac = F.when(
        n_tokens > 0, alpha_words.cast("double") / n_tokens.cast("double")
    ).otherwise(F.lit(0.0))
    req = F.size(
        F.array_distinct(
            F.filter(F.col("toks"), lambda x: x.isin(*_GOPHER_REQ_STOPS))
        )
    ).cast("bigint")
    r_words = n_tokens.between(_GOPHER_MIN_WORDS, _GOPHER_MAX_WORDS)
    r_mwl = (mwl >= _GOPHER_MIN_MWL) & (mwl <= _GOPHER_MAX_MWL)
    r_sym = sym_ratio <= 0.1
    r_alpha = alpha_frac >= 0.8
    r_stops = req >= 2
    return d.select(
        "doc_id",
        n_tokens.alias("n_words"),
        F.round(mwl, 6).alias("mean_word_len"),
        F.round(sym_ratio, 6).alias("symbol_ratio"),
        F.round(alpha_frac, 6).alias("alpha_word_frac"),
        req.alias("n_req_stopwords"),
        r_words.cast("int").alias("ok_words"),
        r_mwl.cast("int").alias("ok_mwl"),
        r_sym.cast("int").alias("ok_symbols"),
        r_alpha.cast("int").alias("ok_alpha"),
        r_stops.cast("int").alias("ok_stopwords"),
        (r_words & r_mwl & r_sym & r_alpha & r_stops).cast("int").alias("keep"),
    )


_req_sql = ", ".join(f"'{w}'" for w in _GOPHER_REQ_STOPS)
Q141_SQL = rf"""
WITH d AS (
  SELECT doc_id, text, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
  FROM documents
), m AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_words,
         CAST(length(text) AS BIGINT) AS n_chars,
         CAST(length(text) - length(replace(text, '#', '')) AS BIGINT) AS n_hash,
         CAST((length(text) - length(replace(text, '...', ''))) / 3 AS BIGINT) AS n_ell,
         CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS BIGINT)
           AS alpha_words,
         CAST(len(list_distinct(list_filter(toks, x -> x IN ({_req_sql}))))
              AS BIGINT) AS req
  FROM d
), f AS (
  SELECT doc_id, n_words, req,
         CASE WHEN n_words > 0
              THEN CAST(n_chars - (n_words - 1) AS DOUBLE) / n_words
              ELSE 0.0 END AS mwl,
         CASE WHEN n_words > 0
              THEN CAST(n_hash + n_ell AS DOUBLE) / n_words
              ELSE 0.0 END AS sym_ratio,
         CASE WHEN n_words > 0
              THEN CAST(alpha_words AS DOUBLE) / n_words
              ELSE 0.0 END AS alpha_frac
  FROM m
)
SELECT doc_id, n_words,
       round(mwl, 6) AS mean_word_len,
       round(sym_ratio, 6) AS symbol_ratio,
       round(alpha_frac, 6) AS alpha_word_frac,
       req AS n_req_stopwords,
       CAST(n_words BETWEEN {_GOPHER_MIN_WORDS} AND {_GOPHER_MAX_WORDS} AS INT)
         AS ok_words,
       CAST(mwl >= {_GOPHER_MIN_MWL} AND mwl <= {_GOPHER_MAX_MWL} AS INT) AS ok_mwl,
       CAST(sym_ratio <= 0.1 AS INT) AS ok_symbols,
       CAST(alpha_frac >= 0.8 AS INT) AS ok_alpha,
       CAST(req >= 2 AS INT) AS ok_stopwords,
       CAST(n_words BETWEEN {_GOPHER_MIN_WORDS} AND {_GOPHER_MAX_WORDS}
            AND mwl >= {_GOPHER_MIN_MWL} AND mwl <= {_GOPHER_MAX_MWL}
            AND sym_ratio <= 0.1 AND alpha_frac >= 0.8 AND req >= 2 AS INT) AS keep
FROM f
"""


# --------------------------------------------------------------------------
# q142 — repetition fractions (Rae et al. 2021 repetition filters)
# --------------------------------------------------------------------------
def q142_repetition_fractions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher/MassiveText repetition filters, token-n-gram form: per
    document, (a) the fraction of tokens covered by the single most
    frequent word BIGRAM (count·2 / n_tokens, tie -> lexicographically
    smallest bigram so the report is deterministic), and (b) the
    fraction of word-TRIGRAM occurrences whose trigram repeats within
    the document. Template spam and keyword stuffing light up both
    axes where q133's type-token ratio can stay unremarkable. (Rae et
    al. define character-coverage variants; the occurrence-fraction
    form used here is exactly specified and integer-exact, which is
    what the cross-engine gate needs.)

    Shape: two explode -> (doc, gram) count shuffles (postings-bounded,
    the q103 discipline) + one per-doc window over the counted bigram
    table for the deterministic argmax; everything re-aggregates to one
    row per document.
    """
    t = load_tables(spark, sf_dir)
    d = t["documents"].select(
        "doc_id", tokenize(F.col("text")).alias("w")
    )

    def _grams(n: int):
        return F.when(
            F.size("w") >= n,
            F.transform(
                F.sequence(F.lit(1), F.size("w") - (n - 1)),
                lambda i: F.concat_ws(" ", F.slice(F.col("w"), i, n)),
            ),
        ).otherwise(F.array().cast("array<string>"))

    base = d.select("doc_id", F.size("w").cast("bigint").alias("n_tokens"))
    bg = (
        d.select("doc_id", F.explode(_grams(2)).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    win = Window.partitionBy("doc_id").orderBy(F.col("cnt").desc(), F.col("g").asc())
    top = (
        bg.withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            F.col("g").alias("top_bigram"),
            F.col("cnt").cast("bigint").alias("top_bigram_count"),
        )
    )
    tg = (
        d.select("doc_id", F.explode(_grams(3)).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_trigrams"),
            F.sum(F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(0))
            .cast("bigint")
            .alias("n_dup_tri"),
        )
    )
    return (
        base.join(top, "doc_id", "left")
        .join(tg, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            "top_bigram",
            F.coalesce("top_bigram_count", F.lit(0)).cast("bigint").alias(
                "top_bigram_count"
            ),
            F.when(
                F.col("n_tokens") > 0,
                F.round(
                    F.coalesce("top_bigram_count", F.lit(0)).cast("double")
                    * 2.0
                    / F.col("n_tokens").cast("double"),
                    6,
                ),
            ).otherwise(F.lit(0.0)).alias("top_bigram_frac"),
            F.when(
                F.coalesce("n_trigrams", F.lit(0)) > 0,
                F.round(
                    F.col("n_dup_tri").cast("double")
                    / F.col("n_trigrams").cast("double"),
                    6,
                ),
            ).otherwise(F.lit(0.0)).alias("dup_trigram_frac"),
        )
    )


Q142_SQL = r"""
WITH d AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w
  FROM documents
), base AS (
  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens FROM d
), bg AS (
  SELECT doc_id, w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1] AS g,
         count(*) AS cnt
  FROM d, LATERAL (SELECT unnest(range(1, len(w))) AS i)
  WHERE len(w) >= 2
  GROUP BY doc_id, g
), top AS (
  SELECT doc_id, g AS top_bigram, CAST(cnt AS BIGINT) AS top_bigram_count
  FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                     ORDER BY cnt DESC, g ASC) AS rn FROM bg)
  WHERE rn = 1
), tgc AS (
  SELECT doc_id,
         w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1] || ' '
           || w[CAST(i AS INT) + 2] AS g,
         count(*) AS cnt
  FROM d, LATERAL (SELECT unnest(range(1, len(w) - 1)) AS i)
  WHERE len(w) >= 3
  GROUP BY doc_id, g
), tg AS (
  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_trigrams,
         CAST(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS BIGINT) AS n_dup_tri
  FROM tgc GROUP BY doc_id
)
SELECT b.doc_id, b.n_tokens, t.top_bigram,
       CAST(COALESCE(t.top_bigram_count, 0) AS BIGINT) AS top_bigram_count,
       CASE WHEN b.n_tokens > 0
            THEN round(CAST(COALESCE(t.top_bigram_count, 0) AS DOUBLE) * 2.0
                       / b.n_tokens, 6)
            ELSE 0.0 END AS top_bigram_frac,
       CASE WHEN COALESCE(g.n_trigrams, 0) > 0
            THEN round(CAST(g.n_dup_tri AS DOUBLE) / g.n_trigrams, 6)
            ELSE 0.0 END AS dup_trigram_frac
FROM base b LEFT JOIN top t USING (doc_id) LEFT JOIN tg g USING (doc_id)
"""


# --------------------------------------------------------------------------
# q143 — interpolated Kneser-Ney bigram scoring (the KenLM filter applied)
# --------------------------------------------------------------------------
#: Absolute discount (the standard KN default).
_KN_D = 0.75


def q143_kn_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Applies the language model q103 builds counts for: per document,
    the mean interpolated Kneser-Ney bigram probability
    ``P(v|u) = max(c(uv)-D,0)/c(u·) + (D·N1+(u·)/c(u·)) · N1+(·v)/B``
    (D = 0.75, B = distinct bigram count) over the document's bigram
    stream, plus the rarest transition. This is the CCNet/KenLM-style
    fluency filter — documents whose transitions the corpus LM finds
    improbable are the mojibake/spam tail. The score is the arithmetic
    MEAN probability, not log-perplexity: log() is not bit-portable
    across engines (the q133 discipline), and the ranking it induces is
    what the filter thresholds on.

    Exactness: every per-bigram probability is one fixed-order IEEE
    expression over integer counts (identical in both engines); the
    mean goes through dsum; the min compares unrounded doubles.
    Shape: one corpus bigram groupBy, two vocab-sized stat aggs derived
    from it, a postings-bounded (u,v) join back onto the doc stream,
    and ONE 1-row broadcast (B) — the q89 scalar class. Every stage is
    partial-aggregable; nothing is quadratic.
    """
    t = load_tables(spark, sf_dir)
    d = t["documents"].select("doc_id", tokenize(F.col("text")).alias("w"))
    bigrams = F.when(
        F.size("w") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("w") - 1),
            lambda i: F.struct(
                F.element_at(F.col("w"), i).alias("u"),
                F.element_at(F.col("w"), i + 1).alias("v"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<u:string,v:string>>"))
    doc_bg = d.select("doc_id", F.explode(bigrams).alias("p")).select(
        "doc_id", "p.u", "p.v"
    )
    big = doc_bg.groupBy("u", "v").agg(F.count(F.lit(1)).alias("n_uv"))
    ustats = big.groupBy("u").agg(
        F.sum("n_uv").alias("ctx"), F.count(F.lit(1)).alias("ncr")
    )
    vstats = big.groupBy("v").agg(F.count(F.lit(1)).alias("ncl"))
    btot = big.agg(F.count(F.lit(1)).alias("b"))
    D = F.lit(_KN_D)
    ctx_d = F.col("ctx").cast("double")
    term1 = F.greatest(
        F.col("n_uv").cast("double") - D, F.lit(0.0)
    ) / ctx_d
    term2 = ((D * F.col("ncr").cast("double")) / ctx_d) * (
        F.col("ncl").cast("double") / F.col("b").cast("double")
    )
    scored = (
        doc_bg.join(big, ["u", "v"])
        .join(ustats, "u")
        .join(vstats, "v")
        .join(F.broadcast(btot))
        .select("doc_id", (term1 + term2).alias("p"))
    )
    # decimal(38,18) sums, NOT the default decimal(25,6) dsum: KN
    # probabilities are small dyadic-flavored ratios (D=0.75 over integer
    # counts) that land within 1 ulp of exact 6-decimal ties, where
    # Spark's repr-based double->decimal cast and DuckDB's binary-value
    # cast round OPPOSITE ways (found by the pathological-corpus sweep:
    # p=0.020312499999999997 vs the exact tie 0.0203125). At scale 18
    # the half-ulp ambiguity is ~1e-18 — invisible after round(mean, 9).
    p18 = F.col("p").cast("decimal(38,18)")
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
        F.round(
            F.sum(p18).cast("double") / F.count(F.lit(1)).cast("double"), 9
        ).alias("mean_kn_p"),
        F.round(F.min("p"), 9).alias("min_kn_p"),
    )


Q143_SQL = rf"""
WITH d AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w
  FROM documents
), doc_bg AS (
  SELECT doc_id, w[CAST(i AS INT)] AS u, w[CAST(i AS INT) + 1] AS v
  FROM d, LATERAL (SELECT unnest(range(1, len(w))) AS i)
  WHERE len(w) >= 2
), big AS (
  SELECT u, v, count(*) AS n_uv FROM doc_bg GROUP BY u, v
), ustats AS (
  SELECT u, sum(n_uv) AS ctx, count(*) AS ncr FROM big GROUP BY u
), vstats AS (
  SELECT v, count(*) AS ncl FROM big GROUP BY v
), bt AS (
  SELECT count(*) AS b FROM big
), scored AS (
  SELECT g.doc_id,
         (greatest(CAST(big.n_uv AS DOUBLE) - CAST({_KN_D} AS DOUBLE), 0.0)
            / CAST(ustats.ctx AS DOUBLE))
         + ((CAST({_KN_D} AS DOUBLE) * CAST(ustats.ncr AS DOUBLE))
              / CAST(ustats.ctx AS DOUBLE))
           * (CAST(vstats.ncl AS DOUBLE) / CAST(bt.b AS DOUBLE)) AS p
  FROM doc_bg g
  JOIN big USING (u, v) JOIN ustats USING (u) JOIN vstats USING (v)
  CROSS JOIN bt
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       round(CAST(SUM(CAST(p AS DECIMAL(38,18))) AS DOUBLE) / count(*), 9) AS mean_kn_p,
       round(min(p), 9) AS min_kn_p
FROM scored GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# q144 — language-ID confidence margin (ambiguity audit for q24)
# --------------------------------------------------------------------------
def q144_langid_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How sure is the language classifier? Per document: q24's argmax
    prediction plus the top-two stopword scores and their margin. The
    routing signal a multilingual pipeline needs — docs with margin
    <= 1 (or no stopword hits at all) go to the expensive model-based
    classifier instead of trusting the heuristic; everything else skips
    it. Integer scores, so the margin is exact. Zero shuffles — the
    audit is a map, streamable unchanged.
    """
    t = load_tables(spark, sf_dir)
    d = t["documents"].select(
        "doc_id", "lang", tokenize(F.col("text")).alias("toks")
    )
    scores = [stopword_count(F.col("toks"), lang) for lang in ("en", "de", "es", "fr")]
    arr = F.array_sort(F.array(*[c.cast("bigint") for c in scores]))
    best = F.element_at(arr, 4)
    second = F.element_at(arr, 3)
    return d.select(
        "doc_id",
        "lang",
        lang_id(F.col("toks")).alias("pred_lang"),
        best.alias("best_score"),
        second.alias("second_score"),
        (best - second).cast("bigint").alias("margin"),
        ((best <= 0) | ((best - second) <= 1)).cast("int").alias("needs_review"),
    )


Q144_SQL = rf"""
WITH toks AS ({_SQL_TOKS}),
scored AS (
  SELECT doc_id, lang,
         {_sql_stop_count('en')} AS s_en, {_sql_stop_count('de')} AS s_de,
         {_sql_stop_count('es')} AS s_es, {_sql_stop_count('fr')} AS s_fr
  FROM toks
), ranked AS (
  SELECT doc_id, lang, s_en, s_de, s_es, s_fr,
         list_sort([CAST(s_en AS BIGINT), CAST(s_de AS BIGINT),
                    CAST(s_es AS BIGINT), CAST(s_fr AS BIGINT)]) AS a
  FROM scored
)
SELECT doc_id, lang,
       CASE WHEN greatest(s_en, s_de, s_es, s_fr) <= 0 THEN 'unknown'
            WHEN s_en = greatest(s_en, s_de, s_es, s_fr) THEN 'en'
            WHEN s_de = greatest(s_en, s_de, s_es, s_fr) THEN 'de'
            WHEN s_es = greatest(s_en, s_de, s_es, s_fr) THEN 'es'
            WHEN s_fr = greatest(s_en, s_de, s_es, s_fr) THEN 'fr'
            ELSE 'unknown' END AS pred_lang,
       a[4] AS best_score,
       a[3] AS second_score,
       CAST(a[4] - a[3] AS BIGINT) AS margin,
       CAST(a[4] <= 0 OR (a[4] - a[3]) <= 1 AS INT) AS needs_review
FROM ranked
"""


# --------------------------------------------------------------------------
# q145 — temperature-scaled source mixture weights (data-mixing table)
# --------------------------------------------------------------------------
def q145_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The data-mixing table every multi-source pretraining run starts
    from: per source, its token mass and the temperature-scaled sampling
    weight w_i = c_i^alpha / sum_j c_j^alpha with alpha = 0.5 — up-weights
    small sources against the head domain (the multilingual/multi-corpus
    sampling rule of mBERT/XLM-R and the Pile's mixing chapter). alpha =
    0.5 specifically because x^0.5 = sqrt(x) is correctly-rounded IEEE in
    both engines, so the oracle is exact where a libm pow() would drift in
    the last bit. ``epochs`` is how many passes over the source one
    corpus-sized token budget implies at that weight — > 1 means the
    source repeats (the up-sampling q117 materializes).

    Shape: one partial-aggable groupBy(source) + two 1-row broadcasts
    (corpus totals) — mergeable at any scale; ~|sources| output rows.
    """
    t = load_tables(spark, sf_dir)
    d = t["documents"].select(
        "source", F.size(tokenize(F.col("text"))).cast("bigint").alias("n_toks")
    )
    per = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_toks").cast("bigint").alias("n_tokens"),
    )
    per = per.withColumn("sq", F.sqrt(F.col("n_tokens").cast("double")))
    tot = per.agg(
        dsum(F.col("sq")).alias("sq_total"),
        F.sum("n_tokens").cast("bigint").alias("tok_total"),
    )
    w = F.col("sq") / F.col("sq_total")
    return per.join(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(w, 9).alias("weight"),
        F.round(
            (F.col("tok_total").cast("double") * w)
            / F.col("n_tokens").cast("double"),
            6,
        ).alias("epochs"),
    )


Q145_SQL = rf"""
WITH per AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(regexp_split_to_array(trim(lower(text)), '\s+'))) AS BIGINT)
           AS n_tokens
  FROM documents GROUP BY source
), sq AS (
  SELECT source, n_docs, n_tokens, sqrt(CAST(n_tokens AS DOUBLE)) AS sq FROM per
), tot AS (
  SELECT {sql_dsum('sq')} AS sq_total, CAST(sum(n_tokens) AS BIGINT) AS tok_total
  FROM sq
)
SELECT source, n_docs, n_tokens,
       round(sq / sq_total, 9) AS weight,
       round((CAST(tok_total AS DOUBLE) * (sq / sq_total))
             / CAST(n_tokens AS DOUBLE), 6) AS epochs
FROM sq CROSS JOIN tot
"""


# --------------------------------------------------------------------------
# q146 — dedup threshold sensitivity sweep (one pass, five thresholds)
# --------------------------------------------------------------------------
_SWEEP_THRESHOLDS = (0.5, 0.6, 0.7, 0.8, 0.9)


def q146_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What does moving the near-dup threshold cost? Pair and document
    counts at five Jaccard cutoffs from ONE exact pair table (computed
    once at the lowest threshold, the same postings join + max_df cap as
    q29) — the sensitivity table a dedup owner reads before committing a
    corpus-wide threshold, instead of re-running the pair job five
    times. Also reports the mean Jaccard above each cutoff (dsum-exact).

    Shape: the pair generation dominates and runs once; the sweep is two
    grouped aggregations over the (small) pair table — one pair-level,
    one over the exploded pair-member ids for the distinct-doc count —
    joined on the threshold. Output: 5 rows.
    """
    from pyspark import StorageLevel

    t = load_tables(spark, sf_dir)
    # The pair table feeds TWO aggregations (pair_agg + doc_agg); without a
    # pin the whole postings-join subtree above the operator's internal
    # index cache — pair explode, n_inter groupBy, both size joins — ran
    # once per consumer (r13 optimization, guide §5: persist only what is
    # reused AND expensive to recompute). The pair table itself is
    # threshold-filtered and tiny relative to the corpus at any scale.
    pairs, pins = ngram_jaccard_pairs(
        t["documents"], "doc_id", "text",
        threshold=min(_SWEEP_THRESHOLDS), max_df=_J_MAX_DF,
    )
    pairs = pairs.persist(StorageLevel.MEMORY_AND_DISK)
    thr = F.explode(
        F.array(*[F.lit(float(x)) for x in _SWEEP_THRESHOLDS])
    ).alias("threshold")
    tagged = pairs.select(thr, "a_id", "b_id", "jaccard").filter(
        F.col("jaccard") >= F.col("threshold")
    )
    pair_agg = tagged.groupBy("threshold").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.round(dsum(F.col("jaccard")) / F.count(F.lit(1)).cast("double"), 9)
        .alias("mean_jaccard"),
    )
    doc_agg = (
        tagged.select(
            "threshold", F.explode(F.array("a_id", "b_id")).alias("doc")
        )
        .groupBy("threshold")
        .agg(F.count_distinct("doc").cast("bigint").alias("n_docs_involved"))
    )
    return materialize_release(
        pair_agg.join(doc_agg, "threshold")
        .select(
            F.round("threshold", 2).alias("threshold"),
            "n_pairs",
            "n_docs_involved",
            "mean_jaccard",
        ),
        pairs,
        *pins,
    )


_sweep_sql_list = ", ".join(
    f"CAST({x} AS DOUBLE)" for x in _SWEEP_THRESHOLDS
)
Q146_SQL = f"""
WITH pairs AS ({_sql_jaccard_pairs(min(_SWEEP_THRESHOLDS))}),
tagged AS (
  SELECT t.threshold, p.a_id, p.b_id, p.jaccard
  FROM pairs p, LATERAL (SELECT unnest([{_sweep_sql_list}]) AS threshold) t
  WHERE p.jaccard >= t.threshold
), pair_agg AS (
  SELECT threshold, CAST(count(*) AS BIGINT) AS n_pairs,
         round({sql_dsum('jaccard')} / count(*), 9) AS mean_jaccard
  FROM tagged GROUP BY threshold
), doc_agg AS (
  SELECT threshold, CAST(count(DISTINCT doc) AS BIGINT) AS n_docs_involved
  FROM (SELECT threshold, unnest([a_id, b_id]) AS doc FROM tagged)
  GROUP BY threshold
)
SELECT round(p.threshold, 2) AS threshold, p.n_pairs, d.n_docs_involved,
       p.mean_jaccard
FROM pair_agg p JOIN doc_agg d USING (threshold)
"""


# --------------------------------------------------------------------------
# q147 — per-document n-gram novelty (corpus saturation, doc level)
# --------------------------------------------------------------------------
def q147_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How much does each document add that the corpus (in doc_id
    arrival order) hasn't seen? Per document: its distinct word-trigram
    count and the fraction of those trigrams whose FIRST corpus
    occurrence is this document. The doc-granular saturation signal
    behind "is this crawl still contributing?" decisions — q134's Heaps
    curve aggregates the same phenomenon corpus-wide; this ranks the
    individual documents a dedup pass should look at first (novelty ~ 0
    means everything here already exists elsewhere).

    Shape: explode -> per-doc distinct (one (doc, gram) shuffle), one
    gram-keyed MIN aggregation for first occurrence, one join back on
    the gram key, one doc re-agg. Postings-bounded at every stage;
    first-occurrence via min(doc_id) is order-insensitive and exact.
    """
    from ..operators.dedup import _spread_narrow

    t = load_tables(spark, sf_dir)
    # The tokenize+trigram build is the CPU-heavy narrow stage; spread it
    # across the cluster when the scan arrives as few splits (r13
    # optimization — the winnow_fingerprints/_doc_shingles discipline; a
    # wide 100 TB scan skips the shuffle).
    docs = _spread_narrow(t["documents"].select("doc_id", "text"), "doc_id")
    d = docs.select("doc_id", tokenize(F.col("text")).alias("w"))
    grams = F.when(
        F.size("w") >= 3,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size("w") - 2),
                lambda i: F.concat_ws(" ", F.slice(F.col("w"), i, 3)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    dg = d.select("doc_id", F.explode(grams).alias("g"))
    first = dg.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    return (
        dg.join(first, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_distinct_grams"),
            F.sum((F.col("first_doc") == F.col("doc_id")).cast("int"))
            .cast("bigint")
            .alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_distinct_grams",
            "n_novel",
            F.round(
                F.col("n_novel").cast("double")
                / F.col("n_distinct_grams").cast("double"),
                6,
            ).alias("novelty_frac"),
        )
    )


Q147_SQL = r"""
WITH d AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w
  FROM documents
), dg AS (
  SELECT DISTINCT doc_id,
         w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1] || ' '
           || w[CAST(i AS INT) + 2] AS g
  FROM d, LATERAL (SELECT unnest(range(1, len(w) - 1)) AS i)
  WHERE len(w) >= 3
), first AS (
  SELECT g, min(doc_id) AS first_doc FROM dg GROUP BY g
)
SELECT dg.doc_id,
       CAST(count(*) AS BIGINT) AS n_distinct_grams,
       CAST(sum(CASE WHEN f.first_doc = dg.doc_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       round(CAST(sum(CASE WHEN f.first_doc = dg.doc_id THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*), 6) AS novelty_frac
FROM dg JOIN first f USING (g)
GROUP BY dg.doc_id
"""


# --------------------------------------------------------------------------
# q148 — per-source length moments (one-pass distributed skewness)
# --------------------------------------------------------------------------
def q148_length_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document-length distribution in ONE pass: mean,
    population variance, and skewness of the token count from exact
    decimal power sums (Σx, Σx², Σx³). A long right tail (positive
    skew) on a source usually means concatenated/stitched pages (q125's
    artifact) — the shape signal a histogram shows but a mean hides,
    computed without a second pass or a sort.

    Exactness: power sums are 128-bit decimal on BOTH engines (Spark
    bigint SUM overflow vs DuckDB HUGEINT widening — the q139 lesson;
    products cast to decimal BEFORE multiplying); the moment assembly
    is a fixed-order IEEE expression; var^(3/2) via var·sqrt(var), not
    libm pow. Shape: one partial-aggable groupBy(source).
    """
    t = load_tables(spark, sf_dir)
    d = t["documents"].select(
        "source", F.size(tokenize(F.col("text"))).cast("bigint").alias("x")
    )
    xd = F.col("x").cast("decimal(38,0)")
    agg = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(xd).cast("double").alias("s1"),
        F.sum(xd * F.col("x")).cast("double").alias("s2"),
        F.sum(xd * F.col("x") * F.col("x")).cast("double").alias("s3"),
    )
    n_d = F.col("n").cast("double")
    mean = F.col("s1") / n_d
    var = (F.col("s2") - (F.col("s1") * F.col("s1")) / n_d) / n_d
    skew = (
        F.col("s3") / n_d
        - F.lit(3.0) * mean * (F.col("s2") / n_d)
        + F.lit(2.0) * mean * mean * mean
    ) / (var * F.sqrt(var))
    return agg.select(
        "source",
        "n",
        F.round(mean, 6).alias("mean_tokens"),
        F.round(var, 6).alias("var_tokens"),
        F.when(var > 0, F.round(skew, 6)).alias("skew_tokens"),
    )


Q148_SQL = rf"""
WITH d AS (
  SELECT source,
         CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS BIGINT) AS x
  FROM documents
), agg AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS s1,
         CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) AS DOUBLE) AS s2,
         CAST(SUM(CAST(x AS DECIMAL(38,0)) * x * x) AS DOUBLE) AS s3
  FROM d GROUP BY source
)
SELECT source, n,
       round(s1 / n, 6) AS mean_tokens,
       round((s2 - (s1 * s1) / n) / n, 6) AS var_tokens,
       CASE WHEN (s2 - (s1 * s1) / n) / n > 0 THEN
         round((s3 / n
                - CAST(3.0 AS DOUBLE) * (s1 / n) * (s2 / n)
                + CAST(2.0 AS DOUBLE) * (s1 / n) * (s1 / n) * (s1 / n))
               / (((s2 - (s1 * s1) / n) / n)
                  * sqrt((s2 - (s1 * s1) / n) / n)), 6)
       END AS skew_tokens
FROM agg
"""

# --------------------------------------------------------------------------
# q149 — PII density audit (counts per document, pre-redaction review)
# --------------------------------------------------------------------------
def q149_pii_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII density per document: counts of email / IPv4 / phone-shaped
    spans plus an any_pii flag — the audit a privacy review runs BEFORE
    choosing a redaction policy (q73 is the redaction itself; this is
    the measurement that sizes it). Scans the same deterministically-
    dirtied payload q73 cleans, so both engines count the identical
    string with known plants.

    Exactness: the three regexes are q73's cross-dialect set; counting
    via regexp_extract_all is leftmost-non-overlapping in both engines.
    NULL text folds to '' (coalesce in BOTH engines) so counts stay
    integers, never -1/NULL. Shape: zero-shuffle narrow map — a pure
    filter stage at any corpus size, stream-safe.
    """
    t = load_tables(spark, sf_dir)
    sid = F.col("doc_id").cast("string")
    dirty = F.concat(
        F.lit('<p class="x">'),
        F.coalesce(F.col("text"), F.lit("")),
        F.lit("</p> &amp; contact: user"),
        sid,
        F.lit("@example.com or 10.0.0.1 tel +1 (555) 0101-"),
        sid,
    )
    def _n(pat: str) -> Column:
        return F.size(F.regexp_extract_all(dirty, F.lit(pat), 0)).cast("bigint")

    n_email = _n(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}")
    n_ip = _n(r"([0-9]{1,3}\.){3}[0-9]{1,3}")
    n_phone = _n(r"\+?[0-9][0-9()\- ]{7,}[0-9]")
    return t["documents"].select(
        "doc_id",
        n_email.alias("n_emails"),
        n_ip.alias("n_ips"),
        n_phone.alias("n_phones"),
        ((n_email + n_ip + n_phone) > 0).alias("any_pii"),
    )


Q149_SQL = r"""
WITH dirty AS (
  SELECT doc_id,
         '<p class="x">' || coalesce(text, '') || '</p> &amp; contact: user'
         || CAST(doc_id AS VARCHAR)
         || '@example.com or 10.0.0.1 tel +1 (555) 0101-' || CAST(doc_id AS VARCHAR) AS d
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(d, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(d, '([0-9]{1,3}\.){3}[0-9]{1,3}')) AS BIGINT) AS n_ips,
       CAST(len(regexp_extract_all(d, '\+?[0-9][0-9()\- ]{7,}[0-9]')) AS BIGINT) AS n_phones,
       (len(regexp_extract_all(d, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        + len(regexp_extract_all(d, '([0-9]{1,3}\.){3}[0-9]{1,3}'))
        + len(regexp_extract_all(d, '\+?[0-9][0-9()\- ]{7,}[0-9]'))) > 0 AS any_pii
FROM dirty
"""


# --------------------------------------------------------------------------
# q150 — per-label centroid-distance outliers (embedding QA)
# --------------------------------------------------------------------------
def q150_label_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 vectors farthest from their label's centroid — the embedding
    quality audit that surfaces mislabeled / corrupted vectors before
    they poison ANN training (label centroids are q88's primitive; this
    consumes them). Centroid components are computed once (posexplode +
    groupBy(label, dim) with decimal-exact sums), assembled into a
    label-count-sized array table, and BROADCAST back onto the vectors —
    the per-vector distance pass is then a zero-shuffle map, and the
    final ranking windows over tiny per-label groups.

    Exactness: centroid components rounded to 6 before the distance (so
    both engines fold identical doubles); the squared-diff fold is the
    sequential left fold (F.aggregate ↔ list_reduce, bit-identical);
    ranking by UNROUNDED distance with vec_id tiebreak.
    """
    t = load_tables(spark, sf_dir)
    e = t["embeddings"].select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("vd"),
    )
    ex = e.select("label", F.posexplode("vd").alias("dim", "v"))
    cent = ex.groupBy("label", "dim").agg(
        (dsum(F.col("v")) / F.count(F.lit(1))).alias("craw")
    )
    carr = (
        cent.groupBy("label")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("dim"), F.round("craw", 6).alias("c")))
            ).alias("sc")
        )
        .select("label", F.transform("sc", lambda s: s["c"]).alias("cvec"))
    )
    j = e.join(F.broadcast(carr), "label")
    dist = F.sqrt(
        F.aggregate(
            F.zip_with("vd", "cvec", lambda x, c: (x - c) * (x - c)),
            F.lit(0.0),
            lambda a, x: a + x,
        )
    )
    w = Window.partitionBy("label").orderBy(F.desc("dist"), F.asc("vec_id"))
    return (
        j.select("label", "vec_id", dist.alias("dist"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("label", "vec_id", F.round("dist", 6).alias("dist"), "rn")
    )


Q150_SQL = f"""
WITH v AS (
  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
  FROM embeddings
), ex AS (
  SELECT label, CAST(d.i - 1 AS INT) AS dim, vd[d.i] AS val
  FROM v, LATERAL (SELECT unnest(range(1, len(vd) + 1)) AS i) d
), cent AS (
  SELECT label, dim, round({sql_dsum('val')} / count(*), 6) AS c
  FROM ex GROUP BY label, dim
), carr AS (
  SELECT label, list(c ORDER BY dim) AS cvec FROM cent GROUP BY label
), dist AS (
  SELECT v.label, v.vec_id,
         sqrt(list_reduce(
           list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(range(1, len(vd) + 1),
                            i -> (vd[i] - cvec[i]) * (vd[i] - cvec[i]))),
           (a, b) -> a + b)) AS dist
  FROM v JOIN carr USING (label)
), ranked AS (
  SELECT label, vec_id, dist,
         row_number() OVER (PARTITION BY label ORDER BY dist DESC, vec_id ASC) AS rn
  FROM dist
)
SELECT label, vec_id, round(dist, 6) AS dist, rn FROM ranked WHERE rn <= 3
"""


# --------------------------------------------------------------------------
# q151 — effective token counts per source after dedup (data-card metric)
# --------------------------------------------------------------------------
def q151_effective_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source EFFECTIVE token budget: total tokens, tokens surviving
    exact dedup (q23's min-doc-per-digest keeper), and tokens surviving
    near-dup cluster dedup (q72's component keeper; singletons keep
    themselves) — the number a mixture designer actually feeds the
    sampler, since raw token counts overstate duplicated sources. Both
    dedup passes reuse the engine's gated primitives; the final rollup
    is one partial-aggable groupBy(source).

    Scale: digest keeper = one digest-keyed shuffle; cluster keeper =
    the capped q29 pair graph + O(log) CC — nothing quadratic. Oracle
    composes Q72's recursive-CTE fixpoint verbatim (the q137 idiom).
    """
    from pyspark import StorageLevel

    from ..operators.components import connected_components

    t = load_tables(spark, sf_dir)
    # d feeds keeper, lab, and (through lab) ckeep + the final rollup —
    # four consumers of a scan+tokenize+md5 subtree the optimizer will
    # not deduplicate. Persist it (and lab below); released via the
    # deferred materialize_release idiom. Measured at the 10x audit:
    # 37.6s -> pair-graph-bound without the re-evaluations.
    d = t["documents"].select(
        "doc_id",
        "source",
        F.size(tokenize(F.col("text"))).cast("bigint").alias("n_tok"),
        F.md5(F.col("text")).alias("dg"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    keeper = d.groupBy("dg").agg(F.min("doc_id").alias("keeper_id"))
    pairs, pins = ngram_jaccard_pairs(
        t["documents"], "doc_id", "text", threshold=0.8, max_df=_J_MAX_DF
    )
    comp = connected_components(pairs, "a_id", "b_id")
    lab = d.join(comp, d["doc_id"] == comp["node"], "left").select(
        d["doc_id"],
        "source",
        "n_tok",
        "dg",
        F.coalesce(F.col("component"), d["doc_id"]).alias("cluster"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    ckeep = lab.groupBy("cluster").agg(F.min("doc_id").alias("ckeeper_id"))
    full = lab.join(keeper, "dg").join(ckeep, "cluster")
    return materialize_release(
        full.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tok").alias("toks_total"),
            F.sum(F.when(F.col("doc_id") == F.col("keeper_id"), F.col("n_tok")).otherwise(F.lit(0))).alias("toks_exact_dedup"),
            F.sum(F.when(F.col("doc_id") == F.col("ckeeper_id"), F.col("n_tok")).otherwise(F.lit(0))).alias("toks_neardup_dedup"),
        )
        .select("source", "n_docs", "toks_total", "toks_exact_dedup", "toks_neardup_dedup"),
        d,
        lab,
        *pins,
    )


Q151_SQL = rf"""
WITH d AS (
  SELECT doc_id, source,
         CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS BIGINT) AS n_tok,
         md5(text) AS dg
  FROM documents
), keeper AS (
  SELECT dg, min(doc_id) AS keeper_id FROM d GROUP BY dg
), comp AS (
  SELECT * FROM ({Q72_SQL}) c
), lab AS (
  SELECT d.doc_id, d.source, d.n_tok, d.dg,
         coalesce(c.component, d.doc_id) AS cluster
  FROM d LEFT JOIN comp c ON d.doc_id = c.node
), ckeep AS (
  SELECT cluster, min(doc_id) AS ckeeper_id FROM lab GROUP BY cluster
)
SELECT l.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(l.n_tok) AS BIGINT) AS toks_total,
       CAST(SUM(CASE WHEN l.doc_id = k.keeper_id THEN l.n_tok ELSE 0 END) AS BIGINT) AS toks_exact_dedup,
       CAST(SUM(CASE WHEN l.doc_id = ck.ckeeper_id THEN l.n_tok ELSE 0 END) AS BIGINT) AS toks_neardup_dedup
FROM lab l JOIN keeper k USING (dg) JOIN ckeep ck USING (cluster)
GROUP BY l.source
"""


# --------------------------------------------------------------------------
# q152 — MinHash estimator calibration vs true Jaccard (LSH QA harness)
# --------------------------------------------------------------------------
def q152_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every q28 LSH candidate pair: the MinHash ESTIMATE of Jaccard
    (fraction of agreeing signature components, k=12) next to the TRUE
    shingle Jaccard and the absolute error — the calibration table that
    tells you whether (k, bands) is tuned for the corpus before you
    trust the sketch at 100 TB. Signatures are computed ONCE (persisted;
    released via the deferred materialize_release idiom): band keys,
    candidate pairs, and both per-pair joins all read the same frame.

    Exactness: signature arithmetic is the q28 multiply-mod family
    (exact in 64-bit on both engines); true Jaccard via
    array_intersect on distinct 60-bit shingle hashes (set semantics
    identical cross-engine); est/true are small-integer ratios.

    Scale: pair count is LSH-bounded (the q28 posture); the shingle-
    hash arrays ride the pair joins only for docs that appear in a
    candidate pair, and the bucket double-explode uses the
    repartition-pinned minhash_index_pairs path.
    """
    from ..operators.dedup import _md5_60bit, _doc_shingles, minhash_index_pairs

    t = load_tables(spark, sf_dir)
    sh = _doc_shingles(t["documents"], "doc_id", "text", 3)
    # NO size(hs)>0 filter here — a filter on this projection is pushed
    # below it with the alias substituted back in, re-inlining the whole
    # tokenize→shingle→md5 chain into the scan AND into every one of the
    # 13 downstream hs references (measured 8x: 19.7s vs 2.4s at sf0.1).
    # Empty-shingle docs instead drop at the band stage via the
    # null-propagating concat (the minhash_band_index discipline).
    based = sh.select(
        "doc_id",
        F.array_distinct(
            F.transform("shingles", lambda s: _md5_60bit(s) % F.lit(_MH_P))
        ).alias("hs"),
    )
    def _mh_comp(a: int, b: int):
        # 1-parameter lambda via factory — default-arg binding would make
        # transform() see a 3-parameter callable (the arity trap noted in
        # operators/dedup.py::minhash_band_index).
        return lambda h: (h * F.lit(a) + F.lit(b)) % F.lit(_MH_P)

    sig = based.select(
        "doc_id",
        "hs",
        F.array(
            *[
                F.array_min(F.transform("hs", _mh_comp(a, b)))
                for a, b in _mh_coeffs(_MH_K)
            ]
        ).alias("sig"),
    ).persist()
    def _band_sig(b: int):
        # concat (NOT concat_ws): an empty-shingle doc has NULL signature
        # components, and concat propagates the NULL so the band drops in
        # the post-explode filter — concat_ws would silently bucket every
        # empty doc under "".
        parts: list = []
        for i in range(b * _MH_RPB, (b + 1) * _MH_RPB):
            if parts:
                parts.append(F.lit("|"))
            parts.append(F.col("sig")[i].cast("string"))
        return F.concat(*parts)

    banded = (
        sig.select(
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band_id"),
                            _md5_60bit(_band_sig(b)).alias("band_key"),
                        )
                        for b in range(_MH_BANDS)
                    ]
                )
            ).alias("bk"),
        )
        .select(
            "doc_id",
            F.col("bk.band_id").alias("band_id"),
            F.col("bk.band_key").alias("band_key"),
        )
        .filter(F.col("band_key").isNotNull())
    )
    pairs = minhash_index_pairs(banded)
    a_side = sig.select(
        F.col("doc_id").alias("a_id"), F.col("sig").alias("sa"), F.col("hs").alias("ha")
    )
    b_side = sig.select(
        F.col("doc_id").alias("b_id"), F.col("sig").alias("sb"), F.col("hs").alias("hb")
    )
    j = pairs.join(a_side, "a_id").join(b_side, "b_id")
    n_match = F.size(F.filter(F.zip_with("sa", "sb", lambda x, y: x == y), lambda v: v))
    inter = F.size(F.array_intersect("ha", "hb"))
    true_j = inter.cast("double") / (
        F.size("ha") + F.size("hb") - inter
    ).cast("double")
    est_j = n_match.cast("double") / F.lit(float(_MH_K))
    res = j.select(
        "a_id",
        "b_id",
        F.round(est_j, 6).alias("est_jaccard"),
        F.round(true_j, 6).alias("true_jaccard"),
        F.round(F.abs(est_j - true_j), 6).alias("abs_err"),
    )
    return materialize_release(res, sig)


Q152_SQL = f"""
WITH words AS ({_SQL_WORDS}),
sh AS ({_SQL_SHINGLES}),
based AS (
  SELECT doc_id,
         list_distinct(list_transform(sh, s -> {_sql_md5_60bit('s')} % {_MH_P})) AS hs
  FROM sh WHERE len(sh) > 0
),
sig0 AS (
  SELECT doc_id, hs, {_mh_cols}
  FROM (SELECT doc_id, hs, hs AS hs2 FROM based) b
),
sig AS (
  SELECT doc_id, hs,
         [{", ".join(f"mh{i}" for i in range(_MH_K))}] AS sigl
  FROM sig0
),
banded AS (
{_band_selects.replace("FROM sig", "FROM sig0")}
),
keyed AS (
  SELECT doc_id, band_id, {_sql_md5_60bit('band_sig')} AS band_key FROM banded
),
pairs AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM keyed a JOIN keyed b
    ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
j AS (
  SELECT p.a_id, p.b_id,
         len(list_filter(range(1, {_MH_K} + 1), i -> sa.sigl[i] = sb.sigl[i])) AS n_match,
         len(list_intersect(sa.hs, sb.hs)) AS n_inter,
         len(sa.hs) AS na, len(sb.hs) AS nb
  FROM pairs p
  JOIN sig sa ON p.a_id = sa.doc_id
  JOIN sig sb ON p.b_id = sb.doc_id
)
SELECT a_id, b_id,
       round(CAST(n_match AS DOUBLE) / {float(_MH_K)}, 6) AS est_jaccard,
       round(CAST(n_inter AS DOUBLE) / CAST(na + nb - n_inter AS DOUBLE), 6) AS true_jaccard,
       round(abs(CAST(n_match AS DOUBLE) / {float(_MH_K)}
                 - CAST(n_inter AS DOUBLE) / CAST(na + nb - n_inter AS DOUBLE)), 6) AS abs_err
FROM j
"""


# --------------------------------------------------------------------------
# q153 — cross-lingual duplicate pairs (SimHash-identical, different lang)
# --------------------------------------------------------------------------
_X_MAX_BUCKET = 50  # identical-simhash bucket cap: bounds the pair fan-out


def q153_crosslingual_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document pairs with IDENTICAL 16-bit SimHash but different language
    labels — the triage list for cross-lingual contamination (machine-
    translated mirrors, copy-paste across language splits) that a
    per-language dedup pass structurally misses. Bucket-grouped
    double-explode on the signature (the minhash_index_pairs discipline:
    collect per-signature doc lists, cap degenerate buckets at
    ``_X_MAX_BUCKET``, spread before the quadratic fan-out) — never a
    corpus self-join.

    Exactness: q30's md5-derived SimHash; the cap and the a<b ordering
    are value-deterministic. Lang NULLs drop via the inequality.
    """
    t = load_tables(spark, sf_dir)
    d = t["documents"].select("doc_id", "lang")
    sh = simhash_docs(t["documents"], "doc_id", "text").join(d, "doc_id")
    grouped = sh.groupBy("simhash").agg(
        F.collect_list(F.struct("doc_id", "lang")).alias("ds")
    )
    grouped = grouped.filter(F.size("ds") <= _X_MAX_BUCKET).repartition(
        spark.sparkContext.defaultParallelism
    )
    pairs = (
        grouped.select("simhash", F.explode("ds").alias("a"), F.col("ds"))
        .select("simhash", "a", F.explode("ds").alias("b"))
        .filter((F.col("a.doc_id") < F.col("b.doc_id")) & (F.col("a.lang") != F.col("b.lang")))
    )
    return pairs.select(
        F.col("a.doc_id").alias("a_id"),
        F.col("b.doc_id").alias("b_id"),
        F.col("a.lang").alias("lang_a"),
        F.col("b.lang").alias("lang_b"),
        "simhash",
    )


Q153_SQL = f"""
WITH sig AS ({Q30_SQL}),
freq AS (
  SELECT simhash FROM sig GROUP BY simhash HAVING count(*) <= {_X_MAX_BUCKET}
),
capped AS (
  SELECT s.doc_id, s.simhash, d.lang
  FROM sig s JOIN freq USING (simhash) JOIN documents d USING (doc_id)
)
SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.lang AS lang_a, b.lang AS lang_b,
       a.simhash AS simhash
FROM capped a JOIN capped b
  ON a.simhash = b.simhash AND a.doc_id < b.doc_id AND a.lang <> b.lang
"""


# --------------------------------------------------------------------------
# q154 — rarest-k tokens per source (tail-vocabulary audit)
# --------------------------------------------------------------------------
def q154_rare_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 5 lowest-document-frequency tokens each source contributes
    (ties broken lexicographically) — the tail-vocabulary audit that
    surfaces OCR noise, encoding damage, and source-specific jargon
    before tokenizer training freezes the vocab (complements q124's
    coverage and q51's head-of-distribution view).

    Shape: distinct (doc, token) postings → token-keyed df count →
    distinct (source, token) → token-keyed join → per-source window
    over source-sized groups. All shuffles are postings-bounded; the
    df table is vocabulary-sized.
    """
    t = load_tables(spark, sf_dir)
    toks = t["documents"].select(
        "source",
        "doc_id",
        F.explode(F.array_distinct(tokenize(F.col("text")))).alias("tok"),
    )
    df_tab = toks.groupBy("tok").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    src_tok = toks.select("source", "tok").distinct()
    w = Window.partitionBy("source").orderBy(F.asc("df"), F.asc("tok"))
    return (
        src_tok.join(df_tab, "tok")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("source", "tok", "df", "rn")
    )


Q154_SQL = rf"""
WITH toks AS (
  SELECT source, doc_id, unnest(list_distinct(regexp_split_to_array(trim(lower(text)), '\s+'))) AS tok
  FROM documents
), df_tab AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS df FROM toks GROUP BY tok
), src_tok AS (
  SELECT DISTINCT source, tok FROM toks
), ranked AS (
  SELECT s.source, s.tok, d.df,
         row_number() OVER (PARTITION BY s.source ORDER BY d.df ASC, s.tok ASC) AS rn
  FROM src_tok s JOIN df_tab d USING (tok)
)
SELECT source, tok, df, rn FROM ranked WHERE rn <= 5
"""


# --------------------------------------------------------------------------
# q155 — near-dup graph degree histogram (dedup-pressure profile)
# --------------------------------------------------------------------------
def q155_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the q29 near-dup graph: how many documents
    have exactly d near-duplicate partners → (degree, n_docs). The
    one-page answer to "is duplication a few huge families or many
    small ones?" — the shape that decides between cluster-keeper dedup
    (q135) and threshold tuning (q146). Two tiny aggregations over the
    already-capped pair table; cost is pair-table-sized regardless of
    corpus size.
    """
    t = load_tables(spark, sf_dir)
    pairs, pins = ngram_jaccard_pairs(
        t["documents"], "doc_id", "text", threshold=0.8, max_df=_J_MAX_DF
    )
    # ONE evaluation of the pair pipeline: a unionAll of two projections
    # would execute the whole postings-join DAG once per leg (the
    # intersection groupBy sits below the projection difference, and
    # exchange reuse does not bridge the union) — measured 2x at the 10x
    # audit scale (80s -> pair-bound single cost). explode(array(a,b))
    # emits both endpoints from a single pass instead.
    nodes = pairs.select(F.explode(F.array("a_id", "b_id")).alias("node"))
    deg = nodes.groupBy("node").agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
    res = (
        deg.groupBy("degree")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .select("degree", "n_docs")
    )
    return materialize_release(res, *pins)


Q155_SQL = f"""
WITH pairs AS ({Q29_SQL}),
nodes AS (
  SELECT a_id AS node FROM pairs UNION ALL SELECT b_id FROM pairs
), deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS degree FROM nodes GROUP BY node
)
SELECT degree, CAST(count(*) AS BIGINT) AS n_docs FROM deg GROUP BY degree
"""


# --------------------------------------------------------------------------
# q156 — quality × duplication crosstab (curation dashboard cell counts)
# --------------------------------------------------------------------------
def q156_quality_dup_crosstab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-tabulation of quality-score bucket (5 fixed buckets of
    q25's composite score) against duplication class (exact duplicate /
    near-duplicate / unique) — the two-axis view that answers "is my
    duplication concentrated in junk I'd drop anyway?" before spending
    a dedup pass. Duplication classes reuse the gated primitives:
    exact = q23's digest has >1 copy; near = member of a q72 component
    (and not exact); else unique.

    Exactness: the bucket is floor(score·5) clamped to 4 — score
    arithmetic is q25's fixed-order IEEE expression, identical in both
    engines, and the floor of an identical double is identical. Shape:
    digest counts (one shuffle), capped pair graph + CC, then ONE
    group-by over ≤15 cells.
    """
    from pyspark import StorageLevel

    from ..operators.components import connected_components

    t = load_tables(spark, sf_dir)
    d = t["documents"].select(
        "doc_id", "text", tokenize(F.col("text")).alias("toks")
    )
    feats = quality_features(F.col("text"), F.col("toks"))
    # scored feeds BOTH the digest counts and the final join — persist so
    # the scan+tokenize+quality subtree runs once (deferred release, the
    # q151 idiom; measured 31.4s -> pair-graph-bound at the 10x audit).
    scored = d.select(
        "doc_id", F.md5("text").alias("dg"), feats["quality_score"].alias("q")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    digests = scored.groupBy("dg").agg(F.count(F.lit(1)).alias("n_copies"))
    pairs, pins = ngram_jaccard_pairs(
        t["documents"], "doc_id", "text", threshold=0.8, max_df=_J_MAX_DF
    )
    comp = connected_components(pairs, "a_id", "b_id")
    j = (
        scored.join(digests, "dg")
        .join(comp, scored["doc_id"] == comp["node"], "left")
    )
    dup_class = (
        F.when(F.col("n_copies") > 1, F.lit("exact"))
        .when(F.col("node").isNotNull(), F.lit("near"))
        .otherwise(F.lit("unique"))
    )
    qb = F.least(F.floor(F.col("q") * 5).cast("int"), F.lit(4))
    return materialize_release(
        j.select(qb.alias("quality_bucket"), dup_class.alias("dup_class"))
        .groupBy("quality_bucket", "dup_class")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .select("quality_bucket", "dup_class", "n_docs"),
        scored,
        *pins,
    )


Q156_SQL = rf"""
WITH t0 AS (
  SELECT doc_id, text, regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM documents
), base AS (
  SELECT doc_id, md5(text) AS dg,
         CAST(length(text) AS BIGINT) AS n_chars,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS BIGINT) AS alpha_chars,
         CAST({_sql_stop_count('en')} AS BIGINT) AS stop_en
  FROM t0
), scored AS (
  SELECT doc_id, dg,
         least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.4
         + (CASE WHEN n_tokens > 0 THEN CAST(stop_en AS DOUBLE) / CAST(n_tokens AS DOUBLE) ELSE 0.0 END) * 0.3
         + (CASE WHEN n_chars > 0 THEN CAST(alpha_chars AS DOUBLE) / CAST(n_chars AS DOUBLE) ELSE 0.0 END) * 0.3 AS q
  FROM base
), digests AS (
  SELECT dg, count(*) AS n_copies FROM scored GROUP BY dg
), comp AS (
  SELECT * FROM ({Q72_SQL}) c
), j AS (
  SELECT s.doc_id, s.q, g.n_copies, c.node
  FROM scored s JOIN digests g USING (dg)
  LEFT JOIN comp c ON s.doc_id = c.node
)
SELECT least(CAST(floor(q * 5) AS INT), 4) AS quality_bucket,
       CASE WHEN n_copies > 1 THEN 'exact'
            WHEN node IS NOT NULL THEN 'near'
            ELSE 'unique' END AS dup_class,
       CAST(count(*) AS BIGINT) AS n_docs
FROM j
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# q157 — top-k collocations by log-free lift (phrase-mining primitive)
# --------------------------------------------------------------------------
def q157_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 adjacent-token collocations ranked by a log-free lift
    statistic, n_xy²/(n_x·n_y) — monotone in PMI² but exactly
    computable cross-engine (PMI's log is libm-dependent; the ratio is
    one fixed-order double expression). The phrase-mining primitive
    behind tokenizer merge seeding and stop-phrase lists. n_xy ≥ 5
    floor kills hapax noise.

    Scale: bigram + unigram tables are token-keyed groupBys (postings-
    bounded); the score join is vocabulary-sized; top-20 is a
    distributed TakeOrdered, never a single-partition sort. All-double
    score arithmetic — a bigint n_x·n_y product would overflow at
    corpus scale where Spark wraps and DuckDB raises (cross-engine
    divergence class), so both engines multiply doubles.
    """
    t = load_tables(spark, sf_dir)
    d = (
        t["documents"]
        .select(tokenize(F.col("text")).alias("toks"))
        .filter(F.size("toks") >= 2)
    )
    pairs = d.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - 1),
                lambda i: F.struct(
                    F.element_at("toks", i.cast("int")).alias("x"),
                    F.element_at("toks", (i + 1).cast("int")).alias("y"),
                ),
            )
        ).alias("p")
    ).select("p.x", "p.y")
    bic = pairs.groupBy("x", "y").agg(F.count(F.lit(1)).cast("bigint").alias("n_xy"))
    uni = (
        t["documents"]
        .select(F.explode(tokenize(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    j = (
        bic.filter(F.col("n_xy") >= 5)
        .join(uni.select(F.col("tok").alias("x"), F.col("c").alias("n_x")), "x")
        .join(uni.select(F.col("tok").alias("y"), F.col("c").alias("n_y")), "y")
    )
    score = (
        F.col("n_xy").cast("double")
        * F.col("n_xy").cast("double")
        / (F.col("n_x").cast("double") * F.col("n_y").cast("double"))
    )
    return (
        j.select("x", "y", "n_xy", "n_x", "n_y", score.alias("lift_raw"))
        .orderBy(F.desc("lift_raw"), F.asc("x"), F.asc("y"))
        .limit(20)
        .select(
            "x", "y", "n_xy", "n_x", "n_y", F.round("lift_raw", 6).alias("lift")
        )
    )


Q157_SQL = rf"""
WITH words AS ({_SQL_WORDS}),
bi AS (
  SELECT w[i] AS x, w[i + 1] AS y
  FROM (SELECT w, unnest(range(1, len(w))) AS i FROM words WHERE len(w) >= 2)
), bic AS (
  SELECT x, y, CAST(count(*) AS BIGINT) AS n_xy FROM bi GROUP BY x, y
), uni AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT unnest(w) AS tok FROM words) GROUP BY tok
), j AS (
  SELECT b.x, b.y, b.n_xy, ux.c AS n_x, uy.c AS n_y,
         CAST(b.n_xy AS DOUBLE) * CAST(b.n_xy AS DOUBLE)
         / (CAST(ux.c AS DOUBLE) * CAST(uy.c AS DOUBLE)) AS lift_raw
  FROM bic b JOIN uni ux ON b.x = ux.tok JOIN uni uy ON b.y = uy.tok
  WHERE b.n_xy >= 5
)
SELECT x, y, n_xy, n_x, n_y, round(lift_raw, 6) AS lift
FROM j ORDER BY lift_raw DESC, x ASC, y ASC LIMIT 20
"""


# --------------------------------------------------------------------------
# q158 — language-ID confusion matrix (labeled lang × predicted lang)
# --------------------------------------------------------------------------
def q158_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q24 classifier's confusion matrix against the corpus's lang
    labels: (lang, pred_lang, n_docs) — the one table that says WHERE
    the router misroutes (q144 says how confidently). One zero-shuffle
    classification pass + one ≤|langs|²-cell groupBy."""
    t = load_tables(spark, sf_dir)
    d = t["documents"].select(
        "lang", tokenize(F.col("text")).alias("toks")
    ).select("lang", lang_id(F.col("toks")).alias("pred_lang"))
    return d.groupBy("lang", "pred_lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )


Q158_SQL = f"""
WITH toks AS ({_SQL_TOKS}),
scored AS (
  SELECT lang,
         {_sql_stop_count('en')} AS s_en, {_sql_stop_count('de')} AS s_de,
         {_sql_stop_count('es')} AS s_es, {_sql_stop_count('fr')} AS s_fr
  FROM toks
), pred AS (
  SELECT lang,
         CASE WHEN greatest(s_en, s_de, s_es, s_fr) <= 0 THEN 'unknown'
              WHEN s_en = greatest(s_en, s_de, s_es, s_fr) THEN 'en'
              WHEN s_de = greatest(s_en, s_de, s_es, s_fr) THEN 'de'
              WHEN s_es = greatest(s_en, s_de, s_es, s_fr) THEN 'es'
              WHEN s_fr = greatest(s_en, s_de, s_es, s_fr) THEN 'fr'
              ELSE 'unknown' END AS pred_lang
  FROM scored
)
SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n_docs
FROM pred GROUP BY lang, pred_lang
"""


# --------------------------------------------------------------------------
# q159 — OOV-rate curve over vocabulary-size cutoffs (tokenizer sizing)
# --------------------------------------------------------------------------
_OOV_CUTOFFS = (100, 500, 1000, 2000, 5000)


def q159_oov_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary token rate as a function of vocabulary size:
    for each cutoff N, the fraction of corpus token OCCURRENCES not
    covered by the top-N tokens (frequency-ranked, ties lexicographic).
    The sizing curve a tokenizer budget decision reads — q124 audits
    one fixed vocab, this sweeps the knob.

    Scale: the token-count table is vocabulary-sized; the top-max(N)
    head is a distributed TakeOrdered (5 000 rows), ranked locally;
    the corpus total is a 1-row broadcast (whitelisted scalar class)
    and the sweep is a 5-row broadcast against the head — cost is
    head-sized, never corpus- or vocab-sized.
    """
    t = load_tables(spark, sf_dir)
    tc = (
        t["documents"]
        .select(F.explode(tokenize(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tc"))
    )
    top = tc.orderBy(F.desc("tc"), F.asc("tok")).limit(max(_OOV_CUTOFFS))
    w = Window.orderBy(F.desc("tc"), F.asc("tok"))
    ranked = top.withColumn("rk", F.row_number().over(w))
    total = tc.agg(F.sum("tc").alias("total_tokens"))
    cuts = spark.range(1).select(
        F.explode(F.array(*[F.lit(n) for n in _OOV_CUTOFFS])).alias("vocab_size")
    )
    covered = (
        cuts.join(F.broadcast(ranked), F.col("rk") <= F.col("vocab_size"))
        .groupBy("vocab_size")
        .agg(F.sum("tc").cast("bigint").alias("covered_tokens"))
    )
    return (
        covered.join(F.broadcast(total))
        .select(
            F.col("vocab_size").cast("int").alias("vocab_size"),
            "covered_tokens",
            F.col("total_tokens").cast("bigint").alias("total_tokens"),
            F.round(
                F.lit(1.0)
                - F.col("covered_tokens").cast("double")
                / F.col("total_tokens").cast("double"),
                6,
            ).alias("oov_rate"),
        )
    )


Q159_SQL = rf"""
WITH tc AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS tc
  FROM (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok FROM documents)
  GROUP BY tok
), ranked AS (
  SELECT tok, tc, row_number() OVER (ORDER BY tc DESC, tok ASC) AS rk
  FROM tc ORDER BY tc DESC, tok ASC LIMIT {max(_OOV_CUTOFFS)}
), total AS (
  SELECT CAST(SUM(tc) AS BIGINT) AS total_tokens FROM tc
), cuts AS (
  SELECT unnest([{", ".join(str(n) for n in _OOV_CUTOFFS)}]) AS vocab_size
), covered AS (
  SELECT c.vocab_size, CAST(SUM(r.tc) AS BIGINT) AS covered_tokens
  FROM cuts c JOIN ranked r ON r.rk <= c.vocab_size
  GROUP BY c.vocab_size
)
SELECT CAST(v.vocab_size AS INT) AS vocab_size, v.covered_tokens, t.total_tokens,
       round(CAST(1.0 AS DOUBLE) - CAST(v.covered_tokens AS DOUBLE) / CAST(t.total_tokens AS DOUBLE), 6) AS oov_rate
FROM covered v CROSS JOIN total t
"""


# --------------------------------------------------------------------------
# q160 — per-document sentence statistics (C4-style sentence rules input)
# --------------------------------------------------------------------------
def q160_sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation stats per document: sentence count, mean and
    max tokens per sentence — the inputs to C4-class sentence rules
    (≥3-sentence docs, terminal-punctuation lines) and a chunking-policy
    knob. Split on [.!?]+ runs, empty segments dropped. Pure array
    expressions per row — zero shuffle, stream-safe.

    Exactness: both engines split with the same regex, filter blank
    segments identically, and count tokens with the shared whitespace
    tokenizer; the mean is one integer-ratio division. NULL text folds
    to '' (0 sentences)."""
    t = load_tables(spark, sf_dir)
    sents = F.filter(
        F.split(F.coalesce(F.col("text"), F.lit("")), r"[.!?]+"),
        lambda s: F.length(F.trim(s)) > 0,
    )
    stoks = F.transform(
        sents, lambda s: F.size(F.split(F.trim(F.lower(s)), r"\s+")).cast("bigint")
    )
    n_sent = F.size(sents).cast("bigint")
    tot = F.aggregate(stoks, F.lit(0).cast("bigint"), lambda a, x: a + x)
    return t["documents"].select(
        "doc_id",
        n_sent.alias("n_sentences"),
        F.when(
            n_sent > 0,
            F.round(tot.cast("double") / n_sent.cast("double"), 6),
        ).alias("mean_sentence_tokens"),
        F.when(n_sent > 0, F.array_max(stoks)).alias("max_sentence_tokens"),
    )


Q160_SQL = r"""
WITH s AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(coalesce(text, ''), '[.!?]+'),
                     x -> length(trim(x)) > 0) AS sents
  FROM documents
), st AS (
  SELECT doc_id, sents,
         list_transform(sents,
           x -> CAST(len(regexp_split_to_array(trim(lower(x)), '\s+')) AS BIGINT)) AS stoks
  FROM s
)
SELECT doc_id,
       CAST(len(sents) AS BIGINT) AS n_sentences,
       CASE WHEN len(sents) > 0 THEN
         round(CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), stoks), (a, b) -> a + b) AS DOUBLE)
               / CAST(len(sents) AS DOUBLE), 6)
       END AS mean_sentence_tokens,
       CASE WHEN len(sents) > 0 THEN list_max(stoks) END AS max_sentence_tokens
FROM st
"""


# --------------------------------------------------------------------------
# q161 — template-prefix groups (boilerplate family detection)
# --------------------------------------------------------------------------
_PREFIX_TOKENS = 10


def q161_template_prefixes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents sharing an identical first-10-token prefix, grouped:
    (prefix_md5, n_docs, keeper_id) for groups of ≥2 — the cheap
    template/mirror detector (generated pages share openings long
    before they share full content; q121 excises repeated SPANS, this
    flags repeated HEADS). Docs shorter than the prefix are excluded —
    they'd group on trivially-short heads. One digest-keyed shuffle,
    wide text never travels.
    """
    t = load_tables(spark, sf_dir)
    d = t["documents"].select(
        "doc_id", tokenize(F.col("text")).alias("toks")
    ).filter(F.size("toks") >= _PREFIX_TOKENS)
    pref = F.md5(F.concat_ws(" ", F.slice("toks", 1, _PREFIX_TOKENS)))
    return (
        d.select("doc_id", pref.alias("prefix_md5"))
        .groupBy("prefix_md5")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("doc_id").alias("keeper_id"),
        )
        .filter(F.col("n_docs") >= 2)
    )


Q161_SQL = rf"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w FROM documents
), pref AS (
  SELECT doc_id, md5(array_to_string(list_slice(w, 1, {_PREFIX_TOKENS}), ' ')) AS prefix_md5
  FROM toks WHERE len(w) >= {_PREFIX_TOKENS}
)
SELECT prefix_md5, CAST(count(*) AS BIGINT) AS n_docs, min(doc_id) AS keeper_id
FROM pref GROUP BY prefix_md5 HAVING count(*) >= 2
"""


# --------------------------------------------------------------------------
# q162 — per-source document-length percentiles (SLA / chunk-policy table)
# --------------------------------------------------------------------------
def q162_length_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated token-count percentiles per source (p10 / p50 /
    p90 / p99) — the length-SLA table that sizes context-window and
    chunking policy per source (q148 gives moments; tails need
    quantiles). The q43 idiom: Spark percentile() ↔ DuckDB
    quantile_cont interpolate identically, rounded(6) for the hash
    gate. Per-source buffering is the documented bound — at open-ended
    scale swap approx_percentile (q37's mergeable path)."""
    t = load_tables(spark, sf_dir)
    d = t["documents"].select(
        "source", F.size(tokenize(F.col("text"))).cast("bigint").alias("n_tok")
    )
    return d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.round(F.expr("percentile(n_tok, 0.1)"), 6).alias("p10"),
        F.round(F.expr("percentile(n_tok, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(n_tok, 0.9)"), 6).alias("p90"),
        F.round(F.expr("percentile(n_tok, 0.99)"), 6).alias("p99"),
    )


Q162_SQL = r"""
WITH d AS (
  SELECT source,
         CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS BIGINT) AS n_tok
  FROM documents
)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       round(quantile_cont(n_tok, 0.1), 6) AS p10,
       round(quantile_cont(n_tok, 0.5), 6) AS p50,
       round(quantile_cont(n_tok, 0.9), 6) AS p90,
       round(quantile_cont(n_tok, 0.99), 6) AS p99
FROM d GROUP BY source
"""


# --------------------------------------------------------------------------
# q163 — incremental exact dedup: new batch vs stored history digests
# --------------------------------------------------------------------------
def q163_incremental_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q108's exact sibling — the first gate of the production ingest
    flow: each arriving document checked against (a) the STORED history
    digest set (one distinct-digest semi-join; history never re-scans
    its text) and (b) its own batch (min-doc keeper per digest). Output
    per new doc: content digest, hit_history, batch_keeper. The
    md5-parity split (q78's discipline) plays history vs batch.

    Scale: the history side collapses to a distinct digest column —
    the artifact you store bucketed by digest; per-batch cost tracks
    the batch. Both flags are one digest-keyed shuffle each."""
    t = load_tables(spark, sf_dir)
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
    ).cast("bigint")
    d = t["documents"].select(
        "doc_id", F.md5(F.col("text")).alias("content_md5"), F.pmod(h, 2).alias("_par")
    )
    hist = d.filter(F.col("_par") == 0).select("content_md5").distinct()
    new = d.filter(F.col("_par") == 1).select("doc_id", "content_md5")
    keep = new.groupBy("content_md5").agg(F.min("doc_id").alias("keeper_id"))
    hist_hit = hist.withColumn("_hit", F.lit(1))
    return (
        new.join(hist_hit, "content_md5", "left")
        .join(keep, "content_md5")
        .select(
            "doc_id",
            "content_md5",
            (F.coalesce(F.col("_hit"), F.lit(0)) == 1).alias("hit_history"),
            (F.col("doc_id") == F.col("keeper_id")).alias("batch_keeper"),
        )
    )


Q163_SQL = """
WITH d AS (
  SELECT doc_id, md5(text) AS content_md5,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 2 AS par
  FROM documents
), hist AS (
  SELECT DISTINCT content_md5 FROM d WHERE par = 0
), new AS (
  SELECT doc_id, content_md5 FROM d WHERE par = 1
), keep AS (
  SELECT content_md5, min(doc_id) AS keeper_id FROM new GROUP BY content_md5
)
SELECT n.doc_id, n.content_md5,
       (h.content_md5 IS NOT NULL) AS hit_history,
       (n.doc_id = k.keeper_id) AS batch_keeper
FROM new n
LEFT JOIN hist h USING (content_md5)
JOIN keep k USING (content_md5)
"""


# --------------------------------------------------------------------------
# q164 — IVF cell-occupancy balance (index-health audit)
# --------------------------------------------------------------------------
def q164_ivf_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Occupancy of every IVF cell under q38's exact index configuration
    (c=16, deterministic smallest-id centroid seed): (cell, n_members).
    Skewed cells are hot partitions at query time AND recall holes —
    this is the audit that says whether the coarse quantizer needs
    retraining (q94) before the index ships. Assignment is an O(n·c)
    broadcast map + ONE map-side-combinable argmax agg (max(struct)) —
    no per-vector window, no n·c shuffle.

    Exactness: per-(vector, centroid) cosine is IEEE-identical; argmax
    by (cos desc, cent_id asc) is max(struct(cos, -cent_id)) — the
    identical assignment the oracle's rank-1 window picks."""
    from ..operators.similarity import with_vector_norm

    t = load_tables(spark, sf_dir)
    base = with_vector_norm(
        t["embeddings"].select(F.col("vec_id").alias("vid"), "embedding"),
        "embedding",
    )
    cents = (
        base.orderBy("vid")
        .limit(_IVF_C)
        .select(
            F.col("vid").alias("cent_id"),
            F.col("vec_d").alias("c_vec"),
            F.col("norm").alias("c_nrm"),
        )
    )
    dot = F.aggregate(
        F.zip_with("vec_d", "c_vec", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )
    scored = base.join(F.broadcast(cents)).select(
        "vid",
        F.col("cent_id"),
        (dot / (F.col("norm") * F.col("c_nrm"))).alias("c_cos"),
    )
    assign = scored.groupBy("vid").agg(
        F.max(F.struct(F.col("c_cos"), (-F.col("cent_id")).alias("neg"))).alias("m")
    )
    return (
        assign.select((-F.col("m.neg")).alias("cell"))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_members"))
    )


Q164_SQL = f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd FROM embeddings
), n AS (
  SELECT vec_id, vd,
         sqrt(list_reduce(list_transform(vd, x -> x * x), (a, b) -> a + b)) AS nrm
  FROM v
), cents AS (
  SELECT vec_id AS cent_id, vd AS c_vec, nrm AS c_nrm FROM n
  ORDER BY vec_id LIMIT {_IVF_C}
), scored AS (
  SELECT n.vec_id, c.cent_id,
         {_SQL_DOT.format(a='n.vd', b='c.c_vec')} / (n.nrm * c.c_nrm) AS c_cos
  FROM n CROSS JOIN cents c
), ranked AS (
  SELECT vec_id, cent_id,
         row_number() OVER (PARTITION BY vec_id ORDER BY c_cos DESC, cent_id ASC) AS crn
  FROM scored
)
SELECT cent_id AS cell, CAST(count(*) AS BIGINT) AS n_members
FROM ranked WHERE crn = 1 GROUP BY cent_id
"""


# --------------------------------------------------------------------------
# q165 — PQ per-subspace distortion (compression-health audit)
# --------------------------------------------------------------------------
def q165_pq_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reconstruction error of the q101 product quantizer, per subspace:
    (sub, n_vecs, mean_sq_err, max_sq_err). The codebook-health table —
    one subspace with outsized distortion means its dimensions need more
    codes (or a rotation) BEFORE the ADC path (q107/q138) silently loses
    recall there. Error of the CHOSEN code only — exactly the quantity
    the encoder minimized, so this is also a training-sanity invariant
    (mean error can only fall per added iteration).

    Shape: rebuild of the narrow sub-vector table + ONE broadcast
    codebook join + one agg; the m·k codebook is driver-state-sized.
    """
    from ..operators.similarity import pq_train_encode

    t = load_tables(spark, sf_dir)
    books: dict = {}
    codes = pq_train_encode(
        t["embeddings"], "vec_id", "embedding",
        m=_PQ_M, k=_PQ_K, iters=2, codebooks_out=books,
    )
    if not books:
        return codes.select(
            F.col("sub"),
            F.lit(0).cast("bigint").alias("n_vecs"),
            F.lit(0.0).alias("mean_sq_err"),
            F.lit(0.0).alias("max_sq_err"),
        ).limit(0)
    cdf = spark.createDataFrame(
        [(sub, code, vec) for (sub, code), vec in books.items()],
        "sub int, code int, cvec array<double>",
    )
    emb = t["embeddings"].select(
        F.col("vec_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("vd"),
    ).filter(F.col("vd").isNotNull())
    dsub = F.expr(f"size(vd) DIV {_PQ_M}")
    sv = emb.withColumn(
        "sub", F.explode(F.sequence(F.lit(0), F.lit(_PQ_M - 1)))
    ).select("vec_id", "sub", F.slice("vd", F.col("sub") * dsub + 1, dsub).alias("svd"))
    err = F.aggregate(
        F.zip_with("svd", "cvec", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    j = sv.join(codes, ["vec_id", "sub"]).join(F.broadcast(cdf), ["sub", "code"])
    return (
        j.select("sub", err.alias("e"))
        .groupBy("sub")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            F.round(dsum(F.col("e")) / F.count(F.lit(1)).cast("double"), 6).alias(
                "mean_sq_err"
            ),
            F.round(F.max("e"), 6).alias("max_sq_err"),
        )
    )


Q165_SQL = f"""
WITH {_PQ_PREFIX_SQL},
chosen AS (
  SELECT vec_id, sub, dist FROM (
    SELECT vec_id, sub, code, dist,
           row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, code) AS rn
    FROM enc
  ) WHERE rn = 1
)
SELECT sub, CAST(count(*) AS BIGINT) AS n_vecs,
       round({sql_dsum('dist')} / count(*), 6) AS mean_sq_err,
       round(max(dist), 6) AS max_sq_err
FROM chosen GROUP BY sub
"""


# --------------------------------------------------------------------------
# q166 — character-class composition profile (encoding-damage signal)
# --------------------------------------------------------------------------
def q166_char_class_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-class fractions — alphabetic, digit,
    whitespace, other — the encoding-damage signal that catches
    mojibake, binary spill, and table dumps that token-level features
    miss (complements q25's alpha_ratio with the full budget; the four
    fractions sum to 1). Counting via regexp_replace removals, the q141
    replace() idiom — zero shuffle, stream-safe.
    """
    t = load_tables(spark, sf_dir)
    txt = F.coalesce(F.col("text"), F.lit(""))
    n = F.length(txt).cast("bigint")

    def frac(pat: str) -> Column:
        kept = n - F.length(F.regexp_replace(txt, pat, "")).cast("bigint")
        return F.when(n > 0, kept.cast("double") / n.cast("double")).otherwise(
            F.lit(0.0)
        )

    return t["documents"].select(
        "doc_id",
        n.alias("n_chars"),
        F.round(frac(r"[A-Za-z]"), 6).alias("alpha_frac"),
        F.round(frac(r"[0-9]"), 6).alias("digit_frac"),
        F.round(frac(r"\s"), 6).alias("space_frac"),
        F.round(frac(r"[^A-Za-z0-9\s]"), 6).alias("other_frac"),
    )


Q166_SQL = r"""
WITH d AS (
  SELECT doc_id, coalesce(text, '') AS t, CAST(length(coalesce(text, '')) AS BIGINT) AS n
  FROM documents
)
SELECT doc_id, n AS n_chars,
       round(CASE WHEN n > 0 THEN CAST(n - length(regexp_replace(t, '[A-Za-z]', '', 'g')) AS DOUBLE) / n ELSE 0.0 END, 6) AS alpha_frac,
       round(CASE WHEN n > 0 THEN CAST(n - length(regexp_replace(t, '[0-9]', '', 'g')) AS DOUBLE) / n ELSE 0.0 END, 6) AS digit_frac,
       round(CASE WHEN n > 0 THEN CAST(n - length(regexp_replace(t, '\s', '', 'g')) AS DOUBLE) / n ELSE 0.0 END, 6) AS space_frac,
       round(CASE WHEN n > 0 THEN CAST(n - length(regexp_replace(t, '[^A-Za-z0-9\s]', '', 'g')) AS DOUBLE) / n ELSE 0.0 END, 6) AS other_frac
FROM d
"""


# --------------------------------------------------------------------------
# q167 — pairwise source vocabulary overlap (mixture-redundancy matrix)
# --------------------------------------------------------------------------
def q167_source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard overlap of the distinct-token vocabularies of every source
    pair — the redundancy matrix a mixture designer reads next to q145's
    weights (two sources with 0.9 vocab overlap are one source for
    diversity purposes). Token-keyed join of the distinct (source, tok)
    postings: per-token fan-out is bounded by |sources|² (a constant),
    so the pair table is vocabulary-sized at any corpus size.
    """
    t = load_tables(spark, sf_dir)
    st = (
        t["documents"]
        .select("source", F.explode(F.array_distinct(tokenize(F.col("text")))).alias("tok"))
        .distinct()
    )
    sizes = st.groupBy("source").agg(F.count(F.lit(1)).cast("bigint").alias("nv"))
    inter = (
        st.select(F.col("source").alias("sa"), "tok")
        .join(st.select(F.col("source").alias("sb"), "tok"), "tok")
        .filter(F.col("sa") < F.col("sb"))
        .groupBy("sa", "sb")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_inter"))
    )
    return (
        inter.join(sizes.select(F.col("source").alias("sa"), F.col("nv").alias("na")), "sa")
        .join(sizes.select(F.col("source").alias("sb"), F.col("nv").alias("nb")), "sb")
        .select(
            "sa",
            "sb",
            "n_inter",
            "na",
            "nb",
            F.round(
                F.col("n_inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_inter")).cast("double"),
                6,
            ).alias("vocab_jaccard"),
        )
    )


Q167_SQL = r"""
WITH st AS (
  SELECT DISTINCT source, tok
  FROM (SELECT source, unnest(list_distinct(regexp_split_to_array(trim(lower(text)), '\s+'))) AS tok
        FROM documents)
), sizes AS (
  SELECT source, CAST(count(*) AS BIGINT) AS nv FROM st GROUP BY source
), inter AS (
  SELECT a.source AS sa, b.source AS sb, CAST(count(*) AS BIGINT) AS n_inter
  FROM st a JOIN st b ON a.tok = b.tok AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT i.sa, i.sb, i.n_inter, za.nv AS na, zb.nv AS nb,
       round(CAST(i.n_inter AS DOUBLE) / CAST(za.nv + zb.nv - i.n_inter AS DOUBLE), 6) AS vocab_jaccard
FROM inter i
JOIN sizes za ON i.sa = za.source
JOIN sizes zb ON i.sb = zb.source
"""


# --------------------------------------------------------------------------
# q168 — hourly event-rate anomalies (ingest monitoring)
# --------------------------------------------------------------------------
def q168_event_rate_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event type, hours whose event count sits ≥ 3 population
    standard deviations from that type's hourly mean — the ingest
    monitor that catches crawler stalls and duplicate floods before
    they reach the corpus. Mean/variance from integer power sums over
    the hourly rollup (one groupBy + one broadcast-joined scalar table
    per type); z and the flag are fixed-order IEEE.

    Output: (event_type, hour, n_events, z, is_anomaly) for ALL hours —
    the z column is the dashboard series, the flag is the alert.
    """
    t = load_tables(spark, sf_dir)
    hourly = (
        t["events"]
        .select("event_type", F.date_trunc("hour", F.col("ts")).alias("h"))
        .groupBy("event_type", "h")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    cd = F.col("c").cast("decimal(38,0)")
    stats = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hours"),
        F.sum(cd).cast("double").alias("s1"),
        F.sum(cd * F.col("c")).cast("double").alias("s2"),
    )
    mean = F.col("s1") / F.col("n_hours").cast("double")
    var = (F.col("s2") - (F.col("s1") * F.col("s1")) / F.col("n_hours").cast("double")) / F.col(
        "n_hours"
    ).cast("double")
    z = F.when(var > 0, (F.col("c").cast("double") - mean) / F.sqrt(var))
    return (
        hourly.join(F.broadcast(stats), "event_type")
        .select(
            "event_type",
            ts_str(F.col("h")).alias("hour"),
            F.col("c").alias("n_events"),
            F.round(z, 6).alias("z"),
            F.coalesce(F.abs(z) >= 3.0, F.lit(False)).alias("is_anomaly"),
        )
    )


Q168_SQL = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h, CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY event_type, date_trunc('hour', ts)
), stats AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_hours,
         CAST(SUM(CAST(c AS DECIMAL(38,0))) AS DOUBLE) AS s1,
         CAST(SUM(CAST(c AS DECIMAL(38,0)) * c) AS DOUBLE) AS s2
  FROM hourly GROUP BY event_type
), z AS (
  SELECT h.event_type, h.h, h.c,
         CASE WHEN (s.s2 - (s.s1 * s.s1) / s.n_hours) / s.n_hours > 0 THEN
           (CAST(h.c AS DOUBLE) - s.s1 / s.n_hours)
           / sqrt((s.s2 - (s.s1 * s.s1) / s.n_hours) / s.n_hours)
         END AS zv
  FROM hourly h JOIN stats s USING (event_type)
)
SELECT event_type, strftime(h, '%Y-%m-%d %H:%M:%S') AS hour, c AS n_events,
       round(zv, 6) AS z,
       coalesce(abs(zv) >= 3.0, false) AS is_anomaly
FROM z
"""


# --------------------------------------------------------------------------
# q169 — token burstiness top-k (Church-Gale tf/df concentration)
# --------------------------------------------------------------------------
def q169_token_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 most BURSTY tokens: highest total-frequency to
    document-frequency ratio (tf/df — Church & Gale's burstiness), with
    a tf ≥ 10 floor. A token that appears 400 times in 3 documents is a
    navigation chrome / spam / table artifact; one spread over 300
    documents is vocabulary. The triage list q121's span excision and
    stop-token lists are tuned from. Two postings-bounded aggs over one
    token stream scan + a distributed TakeOrdered on the UNROUNDED
    ratio (q157's discipline).
    """
    t = load_tables(spark, sf_dir)
    toks = t["documents"].select(
        "doc_id", F.explode(tokenize(F.col("text"))).alias("tok")
    )
    agg = toks.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf"),
        F.count_distinct("doc_id").cast("bigint").alias("df"),
    )
    ratio = F.col("tf").cast("double") / F.col("df").cast("double")
    return (
        agg.filter(F.col("tf") >= 10)
        .select("tok", "tf", "df", ratio.alias("r"))
        .orderBy(F.desc("r"), F.asc("tok"))
        .limit(20)
        .select("tok", "tf", "df", F.round("r", 6).alias("burstiness"))
    )


Q169_SQL = r"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
  FROM documents
), agg AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS tf,
         CAST(count(DISTINCT doc_id) AS BIGINT) AS df
  FROM toks GROUP BY tok
)
SELECT tok, tf, df,
       round(CAST(tf AS DOUBLE) / CAST(df AS DOUBLE), 6) AS burstiness
FROM agg WHERE tf >= 10
ORDER BY CAST(tf AS DOUBLE) / CAST(df AS DOUBLE) DESC, tok ASC LIMIT 20
"""


# --------------------------------------------------------------------------
# q170 — near-dup cluster spread (cross-source / cross-lang mirrors)
# --------------------------------------------------------------------------
def q170_cluster_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per near-dup cluster (q72's components): member count, distinct
    sources, distinct languages, and the keeper — the cluster-granular
    view of mirroring. A cluster spanning 4 sources is syndication (one
    copy stays, per q135); one spanning 3 LANGUAGES is machine
    translation leaking across splits (q153's pair view, aggregated).
    Cost: the capped pair graph + CC the dedup pipeline already runs,
    plus one metadata join and a component-keyed agg.
    """
    from ..operators.components import connected_components

    t = load_tables(spark, sf_dir)
    pairs, pins = ngram_jaccard_pairs(
        t["documents"], "doc_id", "text", threshold=0.8, max_df=_J_MAX_DF
    )
    comp = connected_components(pairs, "a_id", "b_id")
    meta = t["documents"].select("doc_id", "source", "lang")
    j = comp.join(meta, comp["node"] == meta["doc_id"])
    res = j.groupBy("component").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.count_distinct("source").cast("bigint").alias("n_sources"),
        F.count_distinct("lang").cast("bigint").alias("n_langs"),
        F.min("node").alias("keeper_id"),
    )
    return materialize_release(res, *pins)


Q170_SQL = f"""
WITH comp AS (
  SELECT * FROM ({Q72_SQL}) c
)
SELECT c.component,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT d.source) AS BIGINT) AS n_sources,
       CAST(count(DISTINCT d.lang) AS BIGINT) AS n_langs,
       min(c.node) AS keeper_id
FROM comp c JOIN documents d ON c.node = d.doc_id
GROUP BY c.component
"""


# --------------------------------------------------------------------------
# q171 — MinHash band-bucket occupancy histogram (LSH index health)
# --------------------------------------------------------------------------
def q171_band_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Occupancy histogram of the q28 LSH index, per band: how many
    buckets hold exactly d documents — q164's health audit for the
    MinHash side. The d² pair fan-out of every bucket is THE cost model
    of LSH dedup (and of the streaming ingest sink's max_bucket cap);
    this is the table that says whether the (k, bands) tuning keeps d
    small before a corpus-sized pair job commits. Two tiny aggs over
    the band index.
    """
    from ..operators.dedup import minhash_band_index

    t = load_tables(spark, sf_dir)
    idx = minhash_band_index(
        t["documents"], "doc_id", "text", k=_MH_K, bands=_MH_BANDS
    )
    occ = idx.groupBy("band_id", "band_key").agg(
        F.count(F.lit(1)).cast("bigint").alias("bucket_size")
    )
    return (
        occ.groupBy("band_id", "bucket_size")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_buckets"))
        .select("band_id", "bucket_size", "n_buckets")
    )


Q171_SQL = f"""
WITH words AS ({_SQL_WORDS}),
sh AS ({_SQL_SHINGLES}),
based AS (
  SELECT doc_id,
         list_transform(sh, s -> {_sql_md5_60bit('s')} % {_MH_P}) AS hs
  FROM sh
),
sig AS (
  SELECT doc_id, {_mh_cols}
  FROM based
),
banded AS (
{_band_selects}
),
keyed AS (
  SELECT doc_id, band_id, {_sql_md5_60bit('band_sig')} AS band_key FROM banded
),
occ AS (
  SELECT band_id, band_key, CAST(count(*) AS BIGINT) AS bucket_size
  FROM keyed GROUP BY band_id, band_key
)
SELECT band_id, bucket_size, CAST(count(*) AS BIGINT) AS n_buckets
FROM occ GROUP BY band_id, bucket_size
"""


# --------------------------------------------------------------------------
# q172 — quality-score histogram (fixed 20-bin dashboard series)
# --------------------------------------------------------------------------
def q172_quality_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width 20-bin histogram of q25's quality score — the
    dashboard series a threshold decision is read off (q95 ranks into
    deciles, which hides the SHAPE; a bimodal histogram says 'two
    populations', which no quantile table shows). Bin = floor(score·20)
    clamped to 19 — identical IEEE arithmetic then identical floor in
    both engines (the q156 bucket idiom). One narrow pass + a ≤20-cell
    agg."""
    t = load_tables(spark, sf_dir)
    d = t["documents"].select("doc_id", "text", tokenize(F.col("text")).alias("toks"))
    feats = quality_features(F.col("text"), F.col("toks"))
    b = F.least(F.floor(feats["quality_score"] * 20).cast("int"), F.lit(19))
    return (
        d.select(b.alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .select(
            "bin",
            F.round(F.col("bin").cast("double") / 20.0, 2).alias("bin_lo"),
            "n_docs",
        )
    )


Q172_SQL = rf"""
WITH t0 AS (
  SELECT doc_id, text, regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM documents
), base AS (
  SELECT doc_id,
         CAST(length(text) AS BIGINT) AS n_chars,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS BIGINT) AS alpha_chars,
         CAST({_sql_stop_count('en')} AS BIGINT) AS stop_en
  FROM t0
), scored AS (
  SELECT least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.4
         + (CASE WHEN n_tokens > 0 THEN CAST(stop_en AS DOUBLE) / CAST(n_tokens AS DOUBLE) ELSE 0.0 END) * 0.3
         + (CASE WHEN n_chars > 0 THEN CAST(alpha_chars AS DOUBLE) / CAST(n_chars AS DOUBLE) ELSE 0.0 END) * 0.3 AS q
  FROM base
)
SELECT least(CAST(floor(q * 20) AS INT), 19) AS bin,
       round(CAST(least(CAST(floor(q * 20) AS INT), 19) AS DOUBLE) / 20.0, 2) AS bin_lo,
       CAST(count(*) AS BIGINT) AS n_docs
FROM scored GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# q173 — Flesch-Kincaid readability grade (curation-facing named metric)
# --------------------------------------------------------------------------
def q173_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-Kincaid grade level per document from the classic formula
    0.39·(W/S) + 11.8·(Syl/W) − 15.59 with the standard vowel-group
    syllable heuristic ([aeiouy]+ runs) — the curation-facing
    readability number analysts ask for by name (q25's score is a
    composite; this is the published scale). Sentences are q160's
    segmentation; words the shared tokenizer.

    Exactness: three integer counts per row + one fixed-order IEEE
    expression. Zero shuffles, stream-safe; NULL text → counts 0 and a
    NULL grade (guarded divisions)."""
    t = load_tables(spark, sf_dir)
    txt = F.coalesce(F.col("text"), F.lit(""))
    sents = F.filter(
        F.split(txt, r"[.!?]+"), lambda s: F.length(F.trim(s)) > 0
    )
    n_sent = F.size(sents).cast("bigint")
    n_words = F.size(F.split(F.trim(F.lower(txt)), r"\s+")).cast("bigint")
    n_syl = F.size(
        F.regexp_extract_all(F.lower(txt), F.lit(r"[aeiouy]+"), 0)
    ).cast("bigint")
    grade = (
        F.lit(0.39) * (n_words.cast("double") / n_sent.cast("double"))
        + F.lit(11.8) * (n_syl.cast("double") / n_words.cast("double"))
        - F.lit(15.59)
    )
    return t["documents"].select(
        "doc_id",
        n_sent.alias("n_sentences"),
        n_words.alias("n_words"),
        n_syl.alias("n_syllables"),
        F.when((n_sent > 0) & (n_words > 0), F.round(grade, 6)).alias("fk_grade"),
    )


Q173_SQL = r"""
WITH d AS (
  SELECT doc_id, coalesce(text, '') AS t FROM documents
), c AS (
  SELECT doc_id,
         CAST(len(list_filter(regexp_split_to_array(t, '[.!?]+'),
                              x -> length(trim(x)) > 0)) AS BIGINT) AS n_sentences,
         CAST(len(regexp_split_to_array(trim(lower(t)), '\s+')) AS BIGINT) AS n_words,
         CAST(len(regexp_extract_all(lower(t), '[aeiouy]+')) AS BIGINT) AS n_syllables
  FROM d
)
SELECT doc_id, n_sentences, n_words, n_syllables,
       CASE WHEN n_sentences > 0 AND n_words > 0 THEN
         round(CAST(0.39 AS DOUBLE) * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
               + CAST(11.8 AS DOUBLE) * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
               - CAST(15.59 AS DOUBLE), 6)
       END AS fk_grade
FROM c
"""


# --------------------------------------------------------------------------
# q174 — keyword-in-context concordance (corpus inspection primitive)
# --------------------------------------------------------------------------
_KWIC_TERMS = _BM25_TERMS  # the pinned q104 retrieval vocabulary
_KWIC_WIN = 2


def q174_kwic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every occurrence of the pinned q104 term list with ±2 tokens of
    context — the concordance (KWIC) view an annotator opens to judge
    whether a filter term means what the dashboard thinks it means.
    Output: (doc_id, term, pos, context).

    Shape: one posexplode + an `isin` filter (pushed to the generator
    output) — cost tracks MATCHES, not corpus size; the context slice
    reads the per-doc token array already in flight. Postings-class
    shuffle-free map."""
    t = load_tables(spark, sf_dir)
    d = t["documents"].select("doc_id", tokenize(F.col("text")).alias("toks"))
    ex = d.select(
        "doc_id", "toks", F.posexplode("toks").alias("pos0", "term")
    ).filter(F.col("term").isin(*_KWIC_TERMS))
    pos = F.col("pos0") + 1  # 1-based, mirrors the SQL w[i] indexing
    start = F.greatest(F.lit(1), pos - _KWIC_WIN)
    length = F.least(pos + _KWIC_WIN, F.size("toks")) - start + 1
    return ex.select(
        "doc_id",
        "term",
        pos.cast("bigint").alias("pos"),
        F.concat_ws(" ", F.slice("toks", start, length)).alias("context"),
    )


Q174_SQL = rf"""
WITH d AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w FROM documents
), ex AS (
  SELECT doc_id, w, i.i AS pos, w[i.i] AS term
  FROM d, LATERAL (SELECT unnest(range(1, len(w) + 1)) AS i) i
  WHERE w[i.i] IN ({_bm25_in})
)
SELECT doc_id, term, CAST(pos AS BIGINT) AS pos,
       array_to_string(list_slice(w, greatest(1, pos - {_KWIC_WIN}),
                                  least(pos + {_KWIC_WIN}, len(w))), ' ') AS context
FROM ex
"""


# --------------------------------------------------------------------------
# q175 — LSH pair-budget estimate from bucket occupancy (cost forecast)
# --------------------------------------------------------------------------
def q175_lsh_pair_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The closed-form cost forecast for the q28 pair job, per band:
    Σ_buckets d·(d−1)/2 candidate pairs, bucket count, indexed docs,
    and the largest bucket — computed from the occupancy histogram
    ALONE (q171's table), so a dedup owner prices the pair job before
    running it. This is the arithmetic the streaming sinks' max_bucket
    cap bounds; integer-exact.
    """
    from ..operators.dedup import minhash_band_index

    t = load_tables(spark, sf_dir)
    idx = minhash_band_index(
        t["documents"], "doc_id", "text", k=_MH_K, bands=_MH_BANDS
    )
    occ = idx.groupBy("band_id", "band_key").agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    return occ.groupBy("band_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.sum("d").cast("bigint").alias("n_docs_indexed"),
        F.max("d").cast("bigint").alias("max_bucket"),
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("bigint").alias("est_pairs"),
    )


Q175_SQL = f"""
WITH words AS ({_SQL_WORDS}),
sh AS ({_SQL_SHINGLES}),
based AS (
  SELECT doc_id,
         list_transform(sh, s -> {_sql_md5_60bit('s')} % {_MH_P}) AS hs
  FROM sh
),
sig AS (
  SELECT doc_id, {_mh_cols}
  FROM based
),
banded AS (
{_band_selects}
),
keyed AS (
  SELECT doc_id, band_id, {_sql_md5_60bit('band_sig')} AS band_key FROM banded
),
occ AS (
  SELECT band_id, band_key, CAST(count(*) AS BIGINT) AS d
  FROM keyed GROUP BY band_id, band_key
)
SELECT band_id,
       CAST(count(*) AS BIGINT) AS n_buckets,
       CAST(SUM(d) AS BIGINT) AS n_docs_indexed,
       CAST(MAX(d) AS BIGINT) AS max_bucket,
       CAST(SUM(d * (d - 1) / 2) AS BIGINT) AS est_pairs
FROM occ GROUP BY band_id
"""


# --------------------------------------------------------------------------
# q176 — pairwise label-centroid distances (embedding-space geometry)
# --------------------------------------------------------------------------
def q176_centroid_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 distance between every pair of label centroids — the
    |labels|²-row geometry table that says which classes the embedding
    space already separates (near-zero distance = labels the ANN index
    cannot distinguish; q150 finds outlier VECTORS, this scores label
    PAIRS). Centroids via the q88/q150 decimal-exact aggregation; the
    pair stage runs over ≤|labels| rows — index-sized, any corpus.
    """
    t = load_tables(spark, sf_dir)
    e = t["embeddings"].select(
        "label", F.transform("embedding", lambda x: x.cast("double")).alias("vd")
    )
    ex = e.select("label", F.posexplode("vd").alias("dim", "v"))
    cent = ex.groupBy("label", "dim").agg(
        (dsum(F.col("v")) / F.count(F.lit(1))).alias("craw")
    )
    carr = (
        cent.groupBy("label")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("dim"), F.round("craw", 6).alias("c")))
            ).alias("sc")
        )
        .select("label", F.transform("sc", lambda s: s["c"]).alias("cvec"))
    )
    a = carr.select(F.col("label").alias("la"), F.col("cvec").alias("va"))
    b = carr.select(F.col("label").alias("lb"), F.col("cvec").alias("vb"))
    dist = F.sqrt(
        F.aggregate(
            F.zip_with("va", "vb", lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    return (
        a.join(b, F.col("la") < F.col("lb"))
        .select("la", "lb", F.round(dist, 6).alias("dist"))
    )


Q176_SQL = f"""
WITH v AS (
  SELECT label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
  FROM embeddings
), ex AS (
  SELECT label, CAST(d.i - 1 AS INT) AS dim, vd[d.i] AS val
  FROM v, LATERAL (SELECT unnest(range(1, len(vd) + 1)) AS i) d
), cent AS (
  SELECT label, dim, round({sql_dsum('val')} / count(*), 6) AS c
  FROM ex GROUP BY label, dim
), carr AS (
  SELECT label, list(c ORDER BY dim) AS cvec FROM cent GROUP BY label
)
SELECT a.label AS la, b.label AS lb,
       round(sqrt(list_reduce(
         list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(range(1, len(a.cvec) + 1),
                          i -> (a.cvec[i] - b.cvec[i]) * (a.cvec[i] - b.cvec[i]))),
         (x, y) -> x + y)), 6) AS dist
FROM carr a JOIN carr b ON a.label < b.label
"""


# --------------------------------------------------------------------------
# q177 — SQ8 reconstruction-error stats (quantizer-health audit)
# --------------------------------------------------------------------------
def q177_sq8_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension reconstruction error of the q113 SQ8 quantizer:
    decode = mn + code·(mx−mn)/255, err = |v − decode| — q165's health
    audit for the scalar-quantization path. A dimension whose max error
    dwarfs the others has outliers stretching its [mn, mx] range (the
    classic SQ8 failure), and needs clipping before encode. Same single
    posexplode + dim-keyed broadcast shape as q113 itself.
    """
    t = load_tables(spark, sf_dir)
    e = t["embeddings"].select(
        "vec_id",
        F.posexplode(F.transform("embedding", lambda x: x.cast("double"))).alias(
            "dim", "v"
        ),
    )
    stats = e.groupBy("dim").agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
    code = F.when(F.col("mx") == F.col("mn"), F.lit(0).cast("bigint")).otherwise(
        F.least(
            F.lit(255).cast("bigint"),
            F.floor(
                (F.col("v") - F.col("mn")) * F.lit(255.0) / (F.col("mx") - F.col("mn"))
            ),
        )
    )
    decode = F.col("mn") + code.cast("double") * (F.col("mx") - F.col("mn")) / F.lit(
        255.0
    )
    err = F.abs(F.col("v") - decode)
    return (
        e.join(F.broadcast(stats), "dim")
        .select("dim", "mn", "mx", err.alias("err"))
        .groupBy("dim")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.min("mn"), 6).alias("mn"),
            F.round(F.min("mx"), 6).alias("mx"),
            F.round(dsum(F.col("err")) / F.count(F.lit(1)).cast("double"), 6).alias(
                "mean_abs_err"
            ),
            F.round(F.max("err"), 6).alias("max_abs_err"),
        )
    )


Q177_SQL = """
WITH e AS (
  SELECT vec_id, CAST(d.i - 1 AS INT) AS dim, vd[d.i] AS v
  FROM (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
        FROM embeddings) t,
       LATERAL (SELECT unnest(range(1, len(vd) + 1)) AS i) d
), stats AS (
  SELECT dim, min(v) AS mn, max(v) AS mx FROM e GROUP BY dim
), coded AS (
  SELECT e.dim, s.mn, s.mx, e.v,
         CASE WHEN s.mx = s.mn THEN CAST(0 AS BIGINT)
              ELSE least(CAST(255 AS BIGINT),
                         CAST(floor((e.v - s.mn) * CAST(255.0 AS DOUBLE) / (s.mx - s.mn)) AS BIGINT))
         END AS code
  FROM e JOIN stats s USING (dim)
), err AS (
  SELECT dim, mn, mx,
         abs(v - (mn + CAST(code AS DOUBLE) * (mx - mn) / CAST(255.0 AS DOUBLE))) AS err
  FROM coded
)
SELECT dim, CAST(count(*) AS BIGINT) AS n,
       round(min(mn), 6) AS mn, round(min(mx), 6) AS mx,
       round(CAST(SUM(CAST(err AS DECIMAL(25,6))) AS DOUBLE) / count(*), 6) AS mean_abs_err,
       round(max(err), 6) AS max_abs_err
FROM err GROUP BY dim
"""


# --------------------------------------------------------------------------
# q178 — documents↔embeddings referential-integrity audit
# --------------------------------------------------------------------------
def q178_embedding_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential + payload integrity between the document corpus and
    its embedding table: (audit_check, n) rows for docs_total,
    docs_missing_vec, vecs_total, orphan_vecs, null_vecs,
    zero_norm_vecs, and dim_anomalies (vectors whose length differs
    from the modal dimension). This is the gate a training run reads
    BEFORE trusting any ANN/dedup result — a 100 TB ingest that drops
    3% of embeddings fails silently everywhere except here.

    Shape: two id-keyed left joins (each side scanned once), one
    size-histogram agg for the dim check (anomalies = Σcount − max
    count, so no modal-dim join is needed), then two 1-row cross joins
    to assemble the report row before unpivoting — the scalar-broadcast
    BNLJ class (whitelisted). Zero-norm uses the sequential left fold
    over |components| (bit-identical to DuckDB's list_reduce): a sum of
    non-negative doubles is 0 iff every component is 0, so the
    comparison is exact.
    """
    t = load_tables(spark, sf_dir)
    docs = t["documents"].select("doc_id")
    vecs = t["embeddings"].select("vec_id", "embedding")
    vid = vecs.select(F.col("vec_id").alias("doc_id")).distinct().withColumn(
        "has_vec", F.lit(1)
    )
    d_agg = docs.join(vid, "doc_id", "left").agg(
        F.count(F.lit(1)).cast("bigint").alias("docs_total"),
        F.coalesce(
            F.sum(F.when(F.col("has_vec").isNull(), 1).otherwise(0)), F.lit(0)
        ).cast("bigint").alias("docs_missing_vec"),
    )
    did = docs.distinct().withColumn("has_doc", F.lit(1))
    absum = F.aggregate(
        F.transform("embedding", lambda x: F.abs(x.cast("double"))),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    v_agg = vecs.join(did, vecs["vec_id"] == did["doc_id"], "left").agg(
        F.count(F.lit(1)).cast("bigint").alias("vecs_total"),
        F.coalesce(
            F.sum(F.when(F.col("has_doc").isNull(), 1).otherwise(0)), F.lit(0)
        ).cast("bigint").alias("orphan_vecs"),
        F.coalesce(
            F.sum(F.when(F.col("embedding").isNull(), 1).otherwise(0)), F.lit(0)
        ).cast("bigint").alias("null_vecs"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("embedding").isNotNull() & (absum == F.lit(0.0)), 1
                ).otherwise(0)
            ),
            F.lit(0),
        ).cast("bigint").alias("zero_norm_vecs"),
    )
    dim_agg = (
        vecs.filter(F.col("embedding").isNotNull())
        .groupBy(F.size("embedding").alias("sz"))
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            (F.coalesce(F.sum("c"), F.lit(0)) - F.coalesce(F.max("c"), F.lit(0)))
            .cast("bigint")
            .alias("dim_anomalies")
        )
    )
    row = d_agg.crossJoin(v_agg).crossJoin(dim_agg)
    return row.select(
        F.expr(
            "stack(7, "
            "'docs_total', docs_total, "
            "'docs_missing_vec', docs_missing_vec, "
            "'vecs_total', vecs_total, "
            "'orphan_vecs', orphan_vecs, "
            "'null_vecs', null_vecs, "
            "'zero_norm_vecs', zero_norm_vecs, "
            "'dim_anomalies', dim_anomalies) AS (audit_check, n)"
        )
    )


Q178_SQL = """
WITH vid AS (SELECT DISTINCT vec_id FROM embeddings),
d AS (
  SELECT CAST(count(*) AS BIGINT) AS docs_total,
         CAST(coalesce(sum(CASE WHEN v.vec_id IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT)
           AS docs_missing_vec
  FROM documents dd LEFT JOIN vid v ON dd.doc_id = v.vec_id
),
v AS (
  SELECT CAST(count(*) AS BIGINT) AS vecs_total,
         CAST(coalesce(sum(CASE WHEN dd.doc_id IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT)
           AS orphan_vecs,
         CAST(coalesce(sum(CASE WHEN e.embedding IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT)
           AS null_vecs,
         CAST(coalesce(sum(CASE WHEN e.embedding IS NOT NULL AND list_reduce(
                list_prepend(CAST(0.0 AS DOUBLE),
                             list_transform(e.embedding, x -> abs(CAST(x AS DOUBLE)))),
                (a, b) -> a + b) = 0.0 THEN 1 ELSE 0 END), 0) AS BIGINT)
           AS zero_norm_vecs
  FROM embeddings e
  LEFT JOIN (SELECT DISTINCT doc_id FROM documents) dd ON e.vec_id = dd.doc_id
),
dim AS (
  SELECT CAST(coalesce(sum(c), 0) - coalesce(max(c), 0) AS BIGINT) AS dim_anomalies
  FROM (SELECT len(embedding) AS sz, count(*) AS c
        FROM embeddings WHERE embedding IS NOT NULL GROUP BY 1)
)
SELECT 'docs_total' AS audit_check, docs_total AS n FROM d
UNION ALL SELECT 'docs_missing_vec', docs_missing_vec FROM d
UNION ALL SELECT 'vecs_total', vecs_total FROM v
UNION ALL SELECT 'orphan_vecs', orphan_vecs FROM v
UNION ALL SELECT 'null_vecs', null_vecs FROM v
UNION ALL SELECT 'zero_norm_vecs', zero_norm_vecs FROM v
UNION ALL SELECT 'dim_anomalies', dim_anomalies FROM dim
"""


# --------------------------------------------------------------------------
# q179 — token document-frequency spectrum (Zipf / OCR-damage diagnostic)
# --------------------------------------------------------------------------
def q179_token_df_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-of-frequency table of the corpus vocabulary: for each
    document-frequency d, how many distinct tokens appear in exactly d
    documents → (df, n_tokens). The one-page Zipf diagnostic: a healthy
    corpus has a long df=1 tail (hapax legomena ~40-60% of vocab);
    OCR damage inflates it, boilerplate floods the high-df head. q154
    names the tail tokens, q134 tracks vocab growth — this is the
    SHAPE of the whole distribution, which neither shows.

    Shape: distinct tokens per doc (array_distinct before the explode —
    the postings stay |doc|-bounded), one groupBy(token), one
    groupBy(df) — all partial-aggable. NULL text explodes to zero rows
    in both engines.
    """
    t = load_tables(spark, sf_dir)
    toks = t["documents"].select(
        "doc_id",
        F.explode(F.array_distinct(tokenize(F.col("text")))).alias("tok"),
    )
    dfreq = toks.groupBy("tok").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    return dfreq.groupBy("df").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens")
    )


Q179_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_distinct(regexp_split_to_array(trim(lower(text)), '\s+'))) AS tok
  FROM documents
), dfreq AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS df FROM toks GROUP BY tok
)
SELECT df, CAST(count(*) AS BIGINT) AS n_tokens FROM dfreq GROUP BY df
"""


# --------------------------------------------------------------------------
# q180 — cross-source exact-duplicate matrix (provenance audit)
# --------------------------------------------------------------------------
def q180_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every unordered source pair with any cross-source duplication:
    the number of exact-duplicate text digests present in BOTH sources
    and the number of near-duplicate pairs (q29 Jaccard ≥ 0.8) spanning
    them → (src_a, src_b, n_shared_digests, n_near_pairs). The
    provenance table that says WHO mirrors WHOM — q23 counts
    duplicates, q127 measures vocabulary divergence; this is the
    licensing/attribution view a corpus datasheet needs before
    per-source mixture weights (q145) mean anything.

    Shape: exact leg = distinct (digest, source), collect_set(source)
    per digest (bounded by |sources|, ~20), double-explode to unordered
    pairs; near leg = ONE evaluation of the capped q29 pair generator
    plus two slim doc_id→source joins; full-outer combine over
    ≤|sources|² cells. NULL text is excluded from the exact leg
    explicitly (md5(NULL) is NULL in both engines, and a shared
    'no text' digest is not duplication).
    """
    from ..operators.dedup import ngram_jaccard_pairs

    t = load_tables(spark, sf_dir)
    d = (
        t["documents"]
        .filter(F.col("text").isNotNull())
        .select(F.md5("text").alias("dg"), "source")
        .distinct()
    )
    sets = (
        d.groupBy("dg")
        .agg(F.collect_set("source").alias("ss"))
        .filter(F.size("ss") >= 2)
    )
    expairs = (
        sets.select(F.explode("ss").alias("src_a"), "ss")
        .select("src_a", F.explode("ss").alias("src_b"))
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared_digests"))
    )
    src = t["documents"].select("doc_id", "source")
    pairs, pins = ngram_jaccard_pairs(
        t["documents"], "doc_id", "text", threshold=0.8, max_df=_J_MAX_DF
    )
    np_ = (
        pairs.join(src.select(F.col("doc_id").alias("a_id"), F.col("source").alias("sa")), "a_id")
        .join(src.select(F.col("doc_id").alias("b_id"), F.col("source").alias("sb")), "b_id")
        .filter(F.col("sa") != F.col("sb"))
        .select(
            F.least("sa", "sb").alias("src_a"),
            F.greatest("sa", "sb").alias("src_b"),
        )
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_near_pairs"))
    )
    res = (
        expairs.join(np_, ["src_a", "src_b"], "full_outer")
        .select(
            "src_a",
            "src_b",
            F.coalesce("n_shared_digests", F.lit(0)).cast("bigint").alias(
                "n_shared_digests"
            ),
            F.coalesce("n_near_pairs", F.lit(0)).cast("bigint").alias(
                "n_near_pairs"
            ),
        )
    )
    return materialize_release(res, *pins)


def _q180_sql() -> str:
    return f"""
WITH d AS (
  SELECT DISTINCT md5(text) AS dg, source FROM documents WHERE text IS NOT NULL
),
ex AS (
  SELECT a.source AS src_a, b.source AS src_b,
         CAST(count(*) AS BIGINT) AS n_shared_digests
  FROM d a JOIN d b ON a.dg = b.dg AND a.source < b.source
  GROUP BY 1, 2
),
jp AS ({_sql_jaccard_pairs(0.8)}),
np AS (
  SELECT least(sa.source, sb.source) AS src_a,
         greatest(sa.source, sb.source) AS src_b,
         CAST(count(*) AS BIGINT) AS n_near_pairs
  FROM jp
  JOIN documents sa ON jp.a_id = sa.doc_id
  JOIN documents sb ON jp.b_id = sb.doc_id
  WHERE sa.source <> sb.source
  GROUP BY 1, 2
)
SELECT coalesce(ex.src_a, np.src_a) AS src_a,
       coalesce(ex.src_b, np.src_b) AS src_b,
       CAST(coalesce(ex.n_shared_digests, 0) AS BIGINT) AS n_shared_digests,
       CAST(coalesce(np.n_near_pairs, 0) AS BIGINT) AS n_near_pairs
FROM ex FULL OUTER JOIN np ON ex.src_a = np.src_a AND ex.src_b = np.src_b
"""


Q180_SQL = _q180_sql()


# --------------------------------------------------------------------------
# q181 — context-window packing plan (chunk counts + padding waste)
# --------------------------------------------------------------------------
_CHUNK_W = 512  # context-window budget (tokens) the packing plan prices


def q181_chunk_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source packing plan for a fixed context window of
    ``_CHUNK_W`` tokens: document count, total tokens, total chunks
    (⌈n_tok/W⌉ per doc — one doc never shares a window), and the
    padding-waste fraction (W·chunks − tokens)/(W·chunks). The
    capacity table a training-batch planner reads: a source at 40%
    waste wants sequence packing or a smaller window BEFORE anyone
    prices the run. q162 gives length quantiles; this prices the
    policy those quantiles inform.

    Exactness: chunk counts via integer ceil-division ((n+W−1) DIV W);
    all sums are bigint; the final ratio divides two exact bigints —
    identical IEEE in both engines. NULL text counts as the empty
    string (one empty token, one chunk — the q26 raw-token convention).
    """
    t = load_tables(spark, sf_dir)
    w = _CHUNK_W
    n_tok = F.size(tokenize(F.coalesce(F.col("text"), F.lit("")))).cast("bigint")
    d = t["documents"].select("source", n_tok.alias("n_tok")).select(
        "source",
        "n_tok",
        F.expr(f"(n_tok + {w - 1}) DIV {w}").alias("n_chunks"),
    )
    agg = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("toks_total"),
        F.sum("n_chunks").cast("bigint").alias("chunks_total"),
    )
    cap = F.col("chunks_total").cast("double") * F.lit(float(w))
    return agg.select(
        "source",
        "n_docs",
        "toks_total",
        "chunks_total",
        F.round(
            (cap - F.col("toks_total").cast("double")) / cap, 6
        ).alias("pad_waste_frac"),
    )


Q181_SQL = rf"""
WITH d AS (
  SELECT source,
         CAST(len(regexp_split_to_array(trim(lower(coalesce(text, ''))), '\s+')) AS BIGINT)
           AS n_tok
  FROM documents
), c AS (
  SELECT source, n_tok, (n_tok + {_CHUNK_W - 1}) // {_CHUNK_W} AS n_chunks FROM d
), agg AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tok) AS BIGINT) AS toks_total,
         CAST(sum(n_chunks) AS BIGINT) AS chunks_total
  FROM c GROUP BY source
)
SELECT source, n_docs, toks_total, chunks_total,
       round((CAST(chunks_total AS DOUBLE) * CAST({_CHUNK_W}.0 AS DOUBLE)
              - CAST(toks_total AS DOUBLE))
             / (CAST(chunks_total AS DOUBLE) * CAST({_CHUNK_W}.0 AS DOUBLE)), 6)
         AS pad_waste_frac
FROM agg
"""


# --------------------------------------------------------------------------
# q182 — LSH band-configuration sweep (expected recall per (bands, rows))
# --------------------------------------------------------------------------
#: (bands, rows-per-band) factorizations of the k=12 signature budget.
_BAND_CONFIGS = [(1, 12), (2, 6), (3, 4), (4, 3), (6, 2), (12, 1)]


def _chain_pow_col(c, e: int):
    """Fixed-order (left-associated) e-fold product of a Column —
    the SAME association the SQL mirror spells out, so the IEEE result
    is bit-identical cross-engine (pow() implementations are not)."""
    out = c
    for _ in range(e - 1):
        out = out * c
    return out


def _chain_pow_sql(expr: str, e: int) -> str:
    out = f"({expr})"
    for _ in range(e - 1):
        out = f"({out} * ({expr}))"
    return out


def q182_band_config_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected LSH recall for every (bands b, rows r) factorization of
    the k=12 MinHash signature, against the TRUE Jaccard distribution
    of the corpus's candidate pairs: a pair with Jaccard j is caught by
    at least one band with probability 1−(1−j^r)^b. Output: (bands,
    rows_per_band, n_pairs, expected_caught, expected_recall) — the
    S-curve tuning table. q152 calibrates the estimator, q175 prices
    the bucket fan-out; this chooses the banding BEFORE the 100 TB
    pair job runs with the wrong selectivity.

    Shape: ONE evaluation of the capped q29 pair generator at the 0.5
    cutoff (the q146 posture), then a single global agg computing all
    six configs' sums in one pass — no per-config re-banding, no
    second shuffle. Probability sums go through decimal(38,18) (the
    q143 lesson: probability-magnitude addends can sit 1 ulp from a
    decimal(25,6) tie and round opposite ways); powers are explicit
    left-associated product chains, not pow() (libm differs).
    """
    from ..operators.dedup import ngram_jaccard_pairs

    t = load_tables(spark, sf_dir)
    pairs, pins = ngram_jaccard_pairs(
        t["documents"], "doc_id", "text", threshold=0.5, max_df=_J_MAX_DF
    )
    j = F.col("jaccard")
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n_pairs")]
    for b, r in _BAND_CONFIGS:
        p = F.lit(1.0) - _chain_pow_col(F.lit(1.0) - _chain_pow_col(j, r), b)
        aggs.append(
            F.sum(p.cast("decimal(38,18)")).cast("double").alias(f"s_{b}_{r}")
        )
    row = pairs.agg(*aggs)
    stack_args = ", ".join(
        f"{b}, {r}, coalesce(s_{b}_{r}, CAST(0.0 AS DOUBLE))"
        for b, r in _BAND_CONFIGS
    )
    res = row.select(
        F.col("n_pairs"),
        F.expr(
            f"stack({len(_BAND_CONFIGS)}, {stack_args})"
            " AS (bands, rows_per_band, expected_caught)"
        ),
    ).select(
        F.col("bands").cast("int").alias("bands"),
        F.col("rows_per_band").cast("int").alias("rows_per_band"),
        "n_pairs",
        F.round("expected_caught", 6).alias("expected_caught"),
        F.when(F.col("n_pairs") == 0, F.lit(0.0))
        .otherwise(
            F.round(
                F.col("expected_caught") / F.col("n_pairs").cast("double"), 6
            )
        )
        .alias("expected_recall"),
    )
    return materialize_release(res, *pins)


def _q182_sql() -> str:
    legs = []
    for b, r in _BAND_CONFIGS:
        jr = _chain_pow_sql("j", r)
        p = f"(CAST(1.0 AS DOUBLE) - {_chain_pow_sql(f'(CAST(1.0 AS DOUBLE) - {jr})', b)})"
        s = f"coalesce(CAST(SUM(CAST({p} AS DECIMAL(38,18))) AS DOUBLE), CAST(0.0 AS DOUBLE))"
        # Global aggregate (no GROUP BY): one row even over an empty pair
        # table, matching Spark's agg-on-empty semantics; n_pairs via a
        # scalar subquery for the same reason.
        legs.append(
            f"SELECT CAST({b} AS INT) AS bands, CAST({r} AS INT) AS rows_per_band,\n"
            f"       (SELECT n_pairs FROM n) AS n_pairs,\n"
            f"       round({s}, 6) AS expected_caught,\n"
            f"       CASE WHEN (SELECT n_pairs FROM n) = 0 THEN CAST(0.0 AS DOUBLE)\n"
            f"            ELSE round({s} / CAST((SELECT n_pairs FROM n) AS DOUBLE), 6) END\n"
            f"         AS expected_recall\n"
            f"FROM p"
        )
    union = "\nUNION ALL\n".join(legs)
    return (
        f"WITH p AS (SELECT jaccard AS j FROM ({_sql_jaccard_pairs(0.5)})),\n"
        "n AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs FROM p)\n" + union
    )


Q182_SQL = _q182_sql()


# --------------------------------------------------------------------------
# q183 — shard-boundary near-dup leakage (split-design audit)
# --------------------------------------------------------------------------
def q183_shard_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Do near-duplicate pairs stay inside q77's token-budget shards or
    cross them? → (same_shard, n_pairs, mean_jaccard). If shards ever
    become train/eval splits (they do — that's what shards are FOR),
    every cross-shard near-dup pair is leakage q78's decontamination
    sweep would have to catch later; this prices that risk at shard
    level BEFORE the split is frozen. q102 audits a finished split —
    this audits the sharding policy itself.

    Shape: q77's assignment (persisted — it is consumed by both pair
    endpoints, the q151 lesson) + ONE capped 0.8 pair generation + two
    slim id-keyed joins + a 2-row agg. Jaccard means go through
    decimal(38,18) (probability-magnitude sums, the q143 lesson).
    """
    from pyspark import StorageLevel

    from ..operators.dedup import ngram_jaccard_pairs

    t = load_tables(spark, sf_dir)
    shards = (
        q77_token_shards(spark, sf_dir)
        .select("doc_id", "shard_id")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    pairs, pins = ngram_jaccard_pairs(
        t["documents"], "doc_id", "text", threshold=0.8, max_df=_J_MAX_DF
    )
    res = (
        pairs.join(
            shards.select(F.col("doc_id").alias("a_id"), F.col("shard_id").alias("sa")),
            "a_id",
        )
        .join(
            shards.select(F.col("doc_id").alias("b_id"), F.col("shard_id").alias("sb")),
            "b_id",
        )
        .select((F.col("sa") == F.col("sb")).alias("same_shard"), "jaccard")
        .groupBy("same_shard")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.round(
                F.sum(F.col("jaccard").cast("decimal(38,18)")).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("mean_jaccard"),
        )
    )
    return materialize_release(res, shards, *pins)


Q183_SQL = f"""
WITH shards AS ({Q77_SQL}),
jp AS ({_sql_jaccard_pairs(0.8)})
SELECT (sa.shard_id = sb.shard_id) AS same_shard,
       CAST(count(*) AS BIGINT) AS n_pairs,
       round(CAST(SUM(CAST(jp.jaccard AS DECIMAL(38,18))) AS DOUBLE)
             / CAST(count(*) AS DOUBLE), 6) AS mean_jaccard
FROM jp
JOIN shards sa ON jp.a_id = sa.doc_id
JOIN shards sb ON jp.b_id = sb.doc_id
GROUP BY 1
"""


# --------------------------------------------------------------------------
# q184 — per-dimension embedding variance (PCA/rotation sizing table)
# --------------------------------------------------------------------------
def q184_dim_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean and population variance of every embedding dimension →
    (dim, n, mean, variance). The table a PCA/rotation decision reads:
    dimensions with near-zero variance are dead weight the JL/PQ paths
    (q106/q101) pay for anyway, and a heavy-tailed variance profile
    says an OPQ-style rotation would cut q165's distortion. q177 bounds
    per-dim RANGE; this measures spread.

    Exactness: one-pass power sums Σv and Σv² through decimal(38,18)
    (unit-magnitude addends — the q143 tie lesson), variance assembled
    in double with the same fixed expression order both engines:
    (s2 − (s1·s1)/n)/n. Shape: one posexplode + one dim-keyed agg.
    """
    t = load_tables(spark, sf_dir)
    e = t["embeddings"].select(
        F.posexplode(F.transform("embedding", lambda x: x.cast("double"))).alias(
            "dim", "v"
        )
    )
    s1 = F.sum(F.col("v").cast("decimal(38,18)")).cast("double")
    s2 = F.sum((F.col("v") * F.col("v")).cast("decimal(38,18)")).cast("double")
    n = F.count(F.lit(1)).cast("bigint")
    nd = n.cast("double")
    return e.groupBy("dim").agg(
        n.alias("n"),
        F.round(s1 / nd, 6).alias("mean"),
        F.round((s2 - (s1 * s1) / nd) / nd, 6).alias("variance"),
    )


Q184_SQL = """
WITH e AS (
  SELECT CAST(d.i - 1 AS INT) AS dim, vd[d.i] AS v
  FROM (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
        FROM embeddings WHERE embedding IS NOT NULL) t,
       LATERAL (SELECT unnest(range(1, len(vd) + 1)) AS i) d
)
SELECT dim, CAST(count(*) AS BIGINT) AS n,
       round(CAST(SUM(CAST(v AS DECIMAL(38,18))) AS DOUBLE)
             / CAST(count(*) AS DOUBLE), 6) AS mean,
       round((CAST(SUM(CAST(v * v AS DECIMAL(38,18))) AS DOUBLE)
              - (CAST(SUM(CAST(v AS DECIMAL(38,18))) AS DOUBLE)
                 * CAST(SUM(CAST(v AS DECIMAL(38,18))) AS DOUBLE))
                / CAST(count(*) AS DOUBLE))
             / CAST(count(*) AS DOUBLE), 6) AS variance
FROM e GROUP BY dim
"""


# --------------------------------------------------------------------------
# q185 — context-window sweep (packing waste per window size)
# --------------------------------------------------------------------------
#: Candidate context-window budgets the packing sweep prices.
_PACK_WINDOWS = (128, 256, 512, 1024, 2048)


def q185_packing_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q181's packing model swept over the window-size knob: for each
    candidate context budget W, the corpus-total chunk count and
    padding-waste fraction → (window_w, toks_total, chunks_total,
    pad_waste_frac). The curve a context-length decision reads (q181
    prices ONE policy per source; this chooses the policy). Same
    q146-style posture: the token counts are computed once, all five
    windows priced in a single agg — no per-window re-scan.

    Exactness: integer ceil-divisions and bigint sums; the waste ratio
    divides exact bigints in double — identical IEEE both engines.
    NULL text counts as the empty string (one token), the q181
    convention.
    """
    t = load_tables(spark, sf_dir)
    n_tok = F.size(tokenize(F.coalesce(F.col("text"), F.lit("")))).cast("bigint")
    d = t["documents"].select(n_tok.alias("n_tok"))
    aggs = [F.coalesce(F.sum("n_tok"), F.lit(0)).cast("bigint").alias("toks_total")]
    for w in _PACK_WINDOWS:
        aggs.append(
            F.coalesce(F.sum(F.expr(f"(n_tok + {w - 1}) DIV {w}")), F.lit(0))
            .cast("bigint")
            .alias(f"c_{w}")
        )
    row = d.agg(*aggs)
    stack_args = ", ".join(f"{w}, c_{w}" for w in _PACK_WINDOWS)
    cap = F.col("chunks_total").cast("double") * F.col("window_w").cast("double")
    return (
        row.select(
            "toks_total",
            F.expr(
                f"stack({len(_PACK_WINDOWS)}, {stack_args})"
                " AS (window_w, chunks_total)"
            ),
        )
        .select(
            F.col("window_w").cast("int").alias("window_w"),
            "toks_total",
            "chunks_total",
            F.when(F.col("chunks_total") == 0, F.lit(0.0))
            .otherwise(
                F.round((cap - F.col("toks_total").cast("double")) / cap, 6)
            )
            .alias("pad_waste_frac"),
        )
    )


def _q185_sql() -> str:
    sums = ",\n         ".join(
        f"CAST(coalesce(sum((n_tok + {w - 1}) // {w}), 0) AS BIGINT) AS c_{w}"
        for w in _PACK_WINDOWS
    )
    legs = []
    for w in _PACK_WINDOWS:
        cap = f"(CAST(c_{w} AS DOUBLE) * CAST({w}.0 AS DOUBLE))"
        legs.append(
            f"SELECT CAST({w} AS INT) AS window_w, toks_total, c_{w} AS chunks_total,\n"
            f"       CASE WHEN c_{w} = 0 THEN CAST(0.0 AS DOUBLE)\n"
            f"            ELSE round(({cap} - CAST(toks_total AS DOUBLE)) / {cap}, 6) END\n"
            f"         AS pad_waste_frac\n"
            f"FROM agg"
        )
    union = "\nUNION ALL\n".join(legs)
    return (
        r"""WITH d AS (
  SELECT CAST(len(regexp_split_to_array(trim(lower(coalesce(text, ''))), '\s+')) AS BIGINT)
           AS n_tok
  FROM documents
), agg AS (
  SELECT CAST(coalesce(sum(n_tok), 0) AS BIGINT) AS toks_total,
         """
        + sums
        + "\n  FROM d\n)\n"
        + union
    )


Q185_SQL = _q185_sql()


# --------------------------------------------------------------------------
# q186 — near-dup cluster size histogram (dedup-impact estimate)
# --------------------------------------------------------------------------
def q186_dup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q72's near-dup components collapsed to the size histogram a dedup
    owner reads before running the delete: for each cluster size, how
    many clusters exist and how many documents a keep-one-per-cluster
    policy removes → (cluster_size, n_clusters, docs_removable). q146
    sweeps the THRESHOLD's pair/doc counts; this prices the final
    keep-one pass at the committed 0.8 cutoff — the number that goes in
    the corpus datasheet (q99 reports the exact-dup analogue).

    Shape: q72's capped pair graph + 2-round CC (both 10×-audited),
    then two component-keyed aggs — each partial-aggregable, output
    bounded by the distinct-cluster-size count (~log n rows). Integer
    counts only; hash-exact by construction.
    """
    comp = q72_dup_clusters(spark, sf_dir)
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).cast("bigint").alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
        F.sum(F.col("cluster_size") - 1).cast("bigint").alias("docs_removable"),
    )


Q186_SQL = f"""
WITH comp AS ({Q72_SQL}),
sizes AS (
  SELECT component, CAST(count(*) AS BIGINT) AS cluster_size
  FROM comp GROUP BY component
)
SELECT cluster_size,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(sum(cluster_size - 1) AS BIGINT) AS docs_removable
FROM sizes GROUP BY cluster_size
"""


# --------------------------------------------------------------------------
# q187 — corpus version diff (snapshot delta audit)
# --------------------------------------------------------------------------
def _snapshot_v2(base: DataFrame) -> DataFrame:
    """The deterministic second corpus snapshot q187/q193 diff against:
    doc_id % 17 == 0 dropped, % 13 == 0 text-revised, % 19 == 0 re-added
    under a shifted id. Column contract: (doc_id, text)."""
    return (
        base.filter(F.col("doc_id") % 17 != 0)
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") % 13 == 0, F.concat(F.col("text"), F.lit(" [rev2]"))
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
        .unionByName(
            base.filter(F.col("doc_id") % 19 == 0).select(
                (F.col("doc_id") + 1000000).alias("doc_id"),
                F.concat(F.lit("new revision of "), F.col("text")).alias("text"),
            )
        )
    )


#: DuckDB mirror of _snapshot_v2 (kept adjacent so the two stay in sync).
_SQL_SNAPSHOT_V2 = """
  SELECT doc_id,
         CASE WHEN doc_id % 13 = 0 THEN text || ' [rev2]' ELSE text END AS text
  FROM documents WHERE doc_id % 17 <> 0
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, 'new revision of ' || text AS text
  FROM documents WHERE doc_id % 19 = 0
"""


def q187_corpus_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data audit between two corpus snapshots: per delta status
    (added / removed / changed / unchanged), document count and char
    mass → the table a corpus release note prints and an incremental
    re-train reads to size its delta pass (q163 dedups an INCREMENT;
    this diffs two full VERSIONS). v2 is derived deterministically from
    v1 so both engines diff identical snapshots: doc_id % 17 == 0
    dropped, % 13 == 0 text-revised, % 19 == 0 re-added under a shifted
    id.

    Shape: one id-keyed full-outer join (shuffle on the join key — the
    layout a 100-TB snapshot diff wants anyway) + a 4-row agg; the
    three v1 scans are narrow 2-column parquet reads (column-pruned),
    cheaper at scale than persisting the full text column. Integer
    counts and char sums only.
    """
    t = load_tables(spark, sf_dir)
    base = t["documents"].select("doc_id", "text")
    v1 = base.select("doc_id", F.col("text").alias("t1"))
    v2 = _snapshot_v2(base).select("doc_id", F.col("text").alias("t2"))
    j = v1.join(v2, "doc_id", "full_outer")
    status = (
        F.when(F.col("t1").isNull(), F.lit("added"))
        .when(F.col("t2").isNull(), F.lit("removed"))
        .when(F.col("t1") == F.col("t2"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return (
        j.select(
            status.alias("status"),
            F.length(F.coalesce(F.col("t2"), F.col("t1"))).cast("bigint").alias("nc"),
        )
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("nc").cast("bigint").alias("chars_total"),
        )
    )


Q187_SQL = f"""
WITH v1 AS (SELECT doc_id, text AS t1 FROM documents),
v2 AS (
  SELECT doc_id, text AS t2 FROM ({_SQL_SNAPSHOT_V2}) s
),
j AS (
  SELECT v1.t1, v2.t2
  FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
)
SELECT CASE WHEN t1 IS NULL THEN 'added'
            WHEN t2 IS NULL THEN 'removed'
            WHEN t1 = t2 THEN 'unchanged'
            ELSE 'changed' END AS status,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(length(coalesce(t2, t1))) AS BIGINT) AS chars_total
FROM j GROUP BY 1
"""


# --------------------------------------------------------------------------
# q188 — embedding L2-norm outliers per label (index-health audit)
# --------------------------------------------------------------------------
def q188_norm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per label: vector count, L2-norm mean/σ, and how many vectors sit
    outside ±3σ → (label, n_vecs, mean_norm, sd_norm, n_outliers).
    Norm outliers are the classic embedding-table defect (un-normalized
    batches, fp16 overflow rows) that silently skews cosine similarity
    — q178 catches NULL/ragged rows; this catches numerically-broken
    ones. The pre-flight check before the ANN indexes (q38/q32/q101)
    trust the geometry.

    Exactness — two lessons this query exists to pin:
    (1) the norm is q31's sequential double left-fold, the only per-row
    reduction both engines replay bit-identically (a decimal fold is
    NOT it: Spark's repr-based and DuckDB's binary double→decimal casts
    disagree at 1e-18 per element, which MOVED REAL VECTORS across the
    boundary on this table); (2) variance comes from the TWO-PASS
    shifted form Σ(x−mean)²/n, not the one-pass power sums — on a
    unit-normalized table σ/mean ≈ 1e-8, so s2 − s1²/n subtracts two
    ~n-sized doubles to produce ~1e-14 and ONE ulp of cross-engine
    drift in s2 swings σ by 30% (measured: 1.26e-8 vs 1.54e-8). The
    q148 power-sum discipline is for integer-valued x where the sums
    are exact; for doubles it is only safe while σ/mean ≫ 1e-8.
    Deviations are ~1e-8 so their squares sum in decimal(38,30).
    Shape: a zero-shuffle per-row fold + three label-keyed aggs over
    the persisted norms + two broadcast-hash joins (|labels| rows).
    """
    from pyspark import StorageLevel

    from ..operators.similarity import _norm

    t = load_tables(spark, sf_dir)
    e = t["embeddings"].filter(
        F.col("embedding").isNotNull() & (F.size("embedding") > 0)
    )
    norms = e.select(
        "label",
        _norm(F.transform("embedding", lambda x: x.cast("double"))).alias("norm"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    m = norms.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        (
            F.sum(F.col("norm").cast("decimal(38,18)")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("mean_norm"),
    )
    dev = norms.join(F.broadcast(m), "label").select(
        "label",
        "n_vecs",
        "mean_norm",
        "norm",
        (F.col("norm") - F.col("mean_norm")).alias("dv"),
    )
    sd = dev.groupBy("label", "n_vecs", "mean_norm").agg(
        F.sqrt(
            F.sum((F.col("dv") * F.col("dv")).cast("decimal(38,30)")).cast("double")
            / F.col("n_vecs").cast("double")
        ).alias("sd_norm")
    )
    out = (
        dev.join(F.broadcast(sd.select("label", "sd_norm")), "label")
        .select(
            "label",
            (F.abs(F.col("dv")) > F.lit(3.0) * F.col("sd_norm"))
            .cast("bigint")
            .alias("is_out"),
        )
        .groupBy("label")
        .agg(F.sum("is_out").cast("bigint").alias("n_outliers"))
    )
    res = sd.join(out, "label").select(
        "label",
        "n_vecs",
        F.round("mean_norm", 9).alias("mean_norm"),
        F.round("sd_norm", 12).alias("sd_norm"),
        "n_outliers",
    )
    return materialize_release(res, norms)


Q188_SQL = """
WITH norms AS (
  SELECT label,
         sqrt(list_reduce(
           list_transform(list_transform(embedding, y -> CAST(y AS DOUBLE)),
                          x -> x * x),
           (a, b) -> a + b)) AS norm
  FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0
),
m AS (
  SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
         CAST(SUM(CAST(norm AS DECIMAL(38,18))) AS DOUBLE)
           / CAST(count(*) AS DOUBLE) AS mean_norm
  FROM norms GROUP BY label
),
dev AS (
  SELECT n.label, m.n_vecs, m.mean_norm,
         n.norm - m.mean_norm AS dv
  FROM norms n JOIN m USING (label)
),
sd AS (
  SELECT label, n_vecs, mean_norm,
         sqrt(CAST(SUM(CAST(dv * dv AS DECIMAL(38,30))) AS DOUBLE)
              / CAST(n_vecs AS DOUBLE)) AS sd_norm
  FROM dev GROUP BY label, n_vecs, mean_norm
)
SELECT d.label, s.n_vecs,
       round(s.mean_norm, 9) AS mean_norm,
       round(s.sd_norm, 12) AS sd_norm,
       CAST(SUM(CASE WHEN abs(d.dv) > 3.0 * s.sd_norm
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM dev d JOIN sd s USING (label)
GROUP BY d.label, s.n_vecs, s.mean_norm, s.sd_norm
"""


# --------------------------------------------------------------------------
# q189 — token-length ↔ quality correlation per source (one pass)
# --------------------------------------------------------------------------
def q189_len_quality_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per source, the Pearson correlation between a document's token
    count and its q25 quality score → (source, n_docs, mean_quality,
    corr_len_quality). A strongly positive r says the quality score is
    mostly re-measuring length — the known failure mode of
    length-weighted heuristics (Gopher §A2 controls for it); a source
    whose r diverges from the corpus's is scored by a different effective
    rule. The calibration check a filter owner runs BEFORE q135 keeps by
    score.

    Exactness: one-pass power/cross sums — Σx, Σx² in decimal(38,0)
    (q139/q148 discipline: cast BEFORE multiplying), Σy, Σy², Σxy in
    decimal(38,18) (y is q25's fixed-order double; the x·y product is
    one double multiply, identical both engines); r assembled in a
    fixed-order IEEE expression with var·guards → NULL on degenerate
    sources. Shape: one partial-aggregable groupBy(source); zero joins.
    """
    t = load_tables(spark, sf_dir)
    staged = t["documents"].select(
        "source", "text", tokenize(F.col("text")).alias("toks")
    )
    feats = quality_features(F.col("text"), F.col("toks"))
    d = staged.select(
        "source",
        feats["n_tokens"].alias("x"),
        feats["quality_score"].alias("y"),
    )
    xdec = F.col("x").cast("decimal(38,0)")
    xd = F.col("x").cast("double")
    agg = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(xdec).cast("double").alias("sx"),
        F.sum(xdec * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y").cast("decimal(38,18)")).cast("double").alias("sy"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,18)"))
        .cast("double")
        .alias("syy"),
        F.sum((xd * F.col("y")).cast("decimal(38,18)")).cast("double").alias("sxy"),
    )
    nd = F.col("n").cast("double")
    varx = nd * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = nd * F.col("syy") - F.col("sy") * F.col("sy")
    cov = nd * F.col("sxy") - F.col("sx") * F.col("sy")
    return agg.select(
        "source",
        F.col("n").alias("n_docs"),
        F.round(F.col("sy") / nd, 6).alias("mean_quality"),
        F.when(
            (varx > 0) & (vary > 0),
            F.round(cov / (F.sqrt(varx) * F.sqrt(vary)), 6),
        ).alias("corr_len_quality"),
    )


Q189_SQL = rf"""
WITH t0 AS (
  SELECT source, text,
         regexp_split_to_array(trim(lower(text)), '\s+') AS toks
  FROM documents
), base AS (
  SELECT source,
         CAST(length(text) AS BIGINT) AS n_chars,
         CAST(len(toks) AS BIGINT) AS x,
         CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS BIGINT)
           AS alpha_chars,
         CAST({_sql_stop_count('en')} AS BIGINT) AS stop_en
  FROM t0
), scored AS (
  SELECT source, x,
         least(CAST(x AS DOUBLE) / 100.0, 1.0) * 0.4
         + (CASE WHEN x > 0 THEN CAST(stop_en AS DOUBLE) / CAST(x AS DOUBLE)
                 ELSE 0.0 END) * 0.3
         + (CASE WHEN n_chars > 0
                 THEN CAST(alpha_chars AS DOUBLE) / CAST(n_chars AS DOUBLE)
                 ELSE 0.0 END) * 0.3 AS y
  FROM base
), agg AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(y AS DECIMAL(38,18))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(y * y AS DECIMAL(38,18))) AS DOUBLE) AS syy,
         CAST(SUM(CAST(CAST(x AS DOUBLE) * y AS DECIMAL(38,18))) AS DOUBLE) AS sxy
  FROM scored GROUP BY source
)
SELECT source, n AS n_docs,
       round(sy / CAST(n AS DOUBLE), 6) AS mean_quality,
       CASE WHEN (CAST(n AS DOUBLE) * sxx - sx * sx) > 0
             AND (CAST(n AS DOUBLE) * syy - sy * sy) > 0
            THEN round((CAST(n AS DOUBLE) * sxy - sx * sy)
                       / (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx)
                          * sqrt(CAST(n AS DOUBLE) * syy - sy * sy)), 6)
       END AS corr_len_quality
FROM agg
"""


# --------------------------------------------------------------------------
# q190 — LM-fluency band routing (CCNet-style head/middle/tail split)
# --------------------------------------------------------------------------
def q190_kn_band_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's perplexity-bucket routing re-expressed on q143's KN
    scores: documents split into head / middle / tail by their mean
    bigram probability relative to the corpus mean (head ≥ mean,
    middle ≥ mean/2, tail below) → per band, doc count, bigram mass,
    and mean score. CCNet trains on head+middle and drops or re-reviews
    tail; this is the routing table that decision reads. Data-adaptive
    cutoffs (vs q146's fixed sweep) so the split survives corpus drift.

    Exactness: band edges derive from ONE corpus mean (decimal-summed,
    fixed-order divide) compared against q143's already-rounded
    per-doc doubles — identical comparisons both engines. Shape: q143's
    postings-bounded scoring (persisted — consumed by the mean AND the
    banding, the q151 lesson) + one 1-row broadcast (q89's scalar
    class) + a 3-row agg.
    """
    from pyspark import StorageLevel

    kn = q143_kn_score(spark, sf_dir).persist(StorageLevel.MEMORY_AND_DISK)
    tot = kn.agg(
        (
            F.sum(F.col("mean_kn_p").cast("decimal(38,18)")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("corpus_mean")
    )
    banded = kn.join(F.broadcast(tot)).select(
        F.when(F.col("mean_kn_p") >= F.col("corpus_mean"), F.lit("head"))
        .when(
            F.col("mean_kn_p") >= F.lit(0.5) * F.col("corpus_mean"), F.lit("middle")
        )
        .otherwise(F.lit("tail"))
        .alias("band"),
        "n_bigrams",
        "mean_kn_p",
    )
    res = banded.groupBy("band").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_bigrams").cast("bigint").alias("bigrams_total"),
        F.round(
            F.sum(F.col("mean_kn_p").cast("decimal(38,18)")).cast("double")
            / F.count(F.lit(1)).cast("double"),
            9,
        ).alias("mean_p"),
    )
    return materialize_release(res, kn)


Q190_SQL = f"""
WITH kn AS ({Q143_SQL}),
tot AS (
  SELECT CAST(SUM(CAST(mean_kn_p AS DECIMAL(38,18))) AS DOUBLE)
           / CAST(count(*) AS DOUBLE) AS corpus_mean
  FROM kn
),
banded AS (
  SELECT CASE WHEN mean_kn_p >= corpus_mean THEN 'head'
              WHEN mean_kn_p >= CAST(0.5 AS DOUBLE) * corpus_mean THEN 'middle'
              ELSE 'tail' END AS band,
         n_bigrams, mean_kn_p
  FROM kn CROSS JOIN tot
)
SELECT band,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_bigrams) AS BIGINT) AS bigrams_total,
       round(CAST(SUM(CAST(mean_kn_p AS DECIMAL(38,18))) AS DOUBLE)
             / CAST(count(*) AS DOUBLE), 9) AS mean_p
FROM banded GROUP BY band
"""


# --------------------------------------------------------------------------
# q193 — vocabulary drift between corpus snapshots (df movers)
# --------------------------------------------------------------------------
def q193_vocab_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 20 tokens whose document frequency moved most between q187's
    two snapshots → (token, df_v1, df_v2, delta). Distribution drift at
    the vocabulary level is the earliest observable signal that a new
    corpus version changes what a model will learn (new boilerplate,
    a source swap, an injected template) — q187 counts the delta's
    SIZE; this names its CONTENT. q127's divergence compares sources
    within one snapshot; this compares versions of the whole corpus.

    Shape: two distinct-token-per-doc postings (gram-keyed, the q147
    layout) + one token-keyed full-outer join bounded by |vocab| + a
    TakeOrdered(20) — no corpus-sized sort. Determinism: the top-20 cut
    orders by (|delta| DESC, token ASC) — a total order, so the SET is
    stable; integer dfs, hash-exact.
    """
    t = load_tables(spark, sf_dir)
    base = t["documents"].select("doc_id", "text")

    def _df(frame: DataFrame, alias: str) -> DataFrame:
        return (
            frame.select(
                F.explode(F.array_distinct(tokenize(F.col("text")))).alias("token")
            )
            .groupBy("token")
            .agg(F.count(F.lit(1)).cast("bigint").alias(alias))
        )

    d1 = _df(base, "df_v1")
    d2 = _df(_snapshot_v2(base), "df_v2")
    j = (
        d1.join(d2, "token", "full_outer")
        .select(
            "token",
            F.coalesce("df_v1", F.lit(0)).cast("bigint").alias("df_v1"),
            F.coalesce("df_v2", F.lit(0)).cast("bigint").alias("df_v2"),
        )
        .withColumn("delta", (F.col("df_v2") - F.col("df_v1")).cast("bigint"))
        .filter(F.col("delta") != 0)
    )
    return j.orderBy(F.abs("delta").desc(), F.col("token").asc()).limit(20)


Q193_SQL = rf"""
WITH v2 AS ({_SQL_SNAPSHOT_V2}),
d1 AS (
  SELECT t.token, CAST(count(*) AS BIGINT) AS df_v1
  FROM (SELECT unnest(list_distinct(
          regexp_split_to_array(trim(lower(text)), '\s+'))) AS token
        FROM documents) t
  GROUP BY t.token
),
d2 AS (
  SELECT t.token, CAST(count(*) AS BIGINT) AS df_v2
  FROM (SELECT unnest(list_distinct(
          regexp_split_to_array(trim(lower(text)), '\s+'))) AS token
        FROM v2) t
  GROUP BY t.token
),
j AS (
  SELECT coalesce(d1.token, d2.token) AS token,
         CAST(coalesce(d1.df_v1, 0) AS BIGINT) AS df_v1,
         CAST(coalesce(d2.df_v2, 0) AS BIGINT) AS df_v2
  FROM d1 FULL OUTER JOIN d2 ON d1.token = d2.token
)
SELECT token, df_v1, df_v2, CAST(df_v2 - df_v1 AS BIGINT) AS delta
FROM j WHERE df_v2 <> df_v1
ORDER BY abs(df_v2 - df_v1) DESC, token ASC
LIMIT 20
"""


# --------------------------------------------------------------------------
# q194 — dedup-adjusted mixture weights (dedup changes your data mixing)
# --------------------------------------------------------------------------
def q194_dedup_adjusted_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q145's temperature-scaled mixture weights recomputed on the
    SURVIVING token mass after exact dedup (keep-min-doc_id per content
    digest, q23's policy), next to the raw weights → (source,
    n_docs_kept, n_tokens_kept, weight_dedup, weight_raw). Duplication
    is never uniform across sources, so deduping AFTER fixing mixture
    weights silently re-weights the mixture — the gap between the two
    columns is exactly the drift a pipeline that weighs before deduping
    ships to training. Order the steps by this table: dedup first.

    Shape: one digest groupBy (map-side partial) + an id-keyed semi
    join + two groupBy(source) aggs + two 1-row total broadcasts (the
    q89/q145 scalar class). sqrt keeps α=0.5 IEEE-exact (q145's rule).
    """
    t = load_tables(spark, sf_dir)
    d = t["documents"].select(
        "doc_id",
        "source",
        F.md5(F.col("text")).alias("content_md5"),
        F.size(tokenize(F.col("text"))).cast("bigint").alias("n_toks"),
    )
    keep = d.groupBy("content_md5").agg(F.min("doc_id").alias("doc_id"))
    kept = d.join(keep.select("doc_id"), "doc_id")
    per = kept.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs_kept"),
        F.sum("n_toks").cast("bigint").alias("n_tokens_kept"),
    )
    per = per.withColumn("sq", F.sqrt(F.col("n_tokens_kept").cast("double")))
    tot = per.agg(dsum(F.col("sq")).alias("sq_total"))
    raw = (
        d.groupBy("source")
        .agg(F.sum("n_toks").cast("bigint").alias("n_tokens_raw"))
        .withColumn("sqr", F.sqrt(F.col("n_tokens_raw").cast("double")))
    )
    rtot = raw.agg(dsum(F.col("sqr")).alias("sqr_total"))
    return (
        per.join(F.broadcast(tot))
        .join(raw.join(F.broadcast(rtot)), "source")
        .select(
            "source",
            "n_docs_kept",
            "n_tokens_kept",
            F.round(F.col("sq") / F.col("sq_total"), 9).alias("weight_dedup"),
            F.round(F.col("sqr") / F.col("sqr_total"), 9).alias("weight_raw"),
        )
    )


Q194_SQL = rf"""
WITH d AS (
  SELECT doc_id, source, md5(text) AS content_md5,
         CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS BIGINT)
           AS n_toks
  FROM documents
), keep AS (
  SELECT min(doc_id) AS doc_id FROM d GROUP BY content_md5
), kept AS (
  SELECT d.* FROM d JOIN keep USING (doc_id)
), per AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs_kept,
         CAST(sum(n_toks) AS BIGINT) AS n_tokens_kept
  FROM kept GROUP BY source
), persq AS (
  SELECT source, n_docs_kept, n_tokens_kept,
         sqrt(CAST(n_tokens_kept AS DOUBLE)) AS sq
  FROM per
), tot AS (
  SELECT {sql_dsum('sq')} AS sq_total FROM persq
), raw AS (
  SELECT source, sqrt(CAST(sum(n_toks) AS DOUBLE)) AS sqr
  FROM d GROUP BY source
), rtot AS (
  SELECT {sql_dsum('sqr')} AS sqr_total FROM raw
)
SELECT p.source, p.n_docs_kept, p.n_tokens_kept,
       round(p.sq / t.sq_total, 9) AS weight_dedup,
       round(r.sqr / rt.sqr_total, 9) AS weight_raw
FROM persq p
CROSS JOIN tot t
JOIN raw r ON r.source = p.source
CROSS JOIN rtot rt
"""


# --------------------------------------------------------------------------
# q195 — asymmetric n-gram containment pairs (quote/inclusion detector)
# --------------------------------------------------------------------------
_CONTAIN_T = 0.9


def q195_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs where one document's shingle set is ≥ 90% contained in the
    other's → (a_id, b_id, c_a_in_b, c_b_in_a, jaccard). Containment
    c(A→B) = |A∩B|/|A| catches what symmetric Jaccard structurally
    misses: a short document quoted whole inside a long one has Jaccard
    ≈ |A|/|B| (arbitrarily small) but containment ≈ 1 — the
    stitched-page / quoted-reply / boilerplate-wrapper family. Reported
    next to the pair's Jaccard so the asymmetry is visible.

    Shape: ``ngram_containment_pairs`` — the exact inverted-index join
    and max_df stop-shingle cap of q29 (only the final normalization
    differs), so the 10×-audited bounds carry over. Ratios are
    int/int single divisions — identical IEEE both engines.
    """
    from ..operators.dedup import ngram_containment_pairs

    t = load_tables(spark, sf_dir)
    pairs, pins = ngram_containment_pairs(
        t["documents"], "doc_id", "text", threshold=_CONTAIN_T, max_df=_J_MAX_DF
    )
    res = pairs.select(
        "a_id",
        "b_id",
        F.round("c_a_in_b", 9).alias("c_a_in_b"),
        F.round("c_b_in_a", 9).alias("c_b_in_a"),
        F.round("jaccard", 9).alias("jaccard"),
    )
    return materialize_release(res, *pins)


#: Unrounded containment-pair CTE body (mirrors ngram_containment_pairs);
#: q195 rounds it for output, q201 aggregates it raw.
_SQL_CONTAIN_CORE = f"""
WITH words AS ({_SQL_WORDS}),
sh AS ({_SQL_SHINGLES}),
posts0 AS (
  SELECT doc_id, {_sql_md5_60bit('shingle')} AS sh_h
  FROM (SELECT doc_id, unnest(sh) AS shingle FROM sh)
),
freq AS (SELECT sh_h FROM posts0 GROUP BY sh_h HAVING count(*) <= {_J_MAX_DF}),
posts AS (SELECT p.doc_id, p.sh_h FROM posts0 p JOIN freq USING (sh_h)),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM posts GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_inter
  FROM posts a JOIN posts b ON a.sh_h = b.sh_h AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT a_id, b_id,
       CAST(n_inter AS DOUBLE) / CAST(sa.n_sh AS DOUBLE) AS c_a_in_b,
       CAST(n_inter AS DOUBLE) / CAST(sb.n_sh AS DOUBLE) AS c_b_in_a,
       CAST(n_inter AS DOUBLE)
         / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) AS jaccard
FROM inter
JOIN sizes sa ON a_id = sa.doc_id
JOIN sizes sb ON b_id = sb.doc_id
WHERE greatest(CAST(n_inter AS DOUBLE) / CAST(sa.n_sh AS DOUBLE),
               CAST(n_inter AS DOUBLE) / CAST(sb.n_sh AS DOUBLE))
      >= {_CONTAIN_T}
"""

Q195_SQL = f"""
SELECT a_id, b_id,
       round(c_a_in_b, 9) AS c_a_in_b,
       round(c_b_in_a, 9) AS c_b_in_a,
       round(jaccard, 9) AS jaccard
FROM ({_SQL_CONTAIN_CORE}) core
"""


# --------------------------------------------------------------------------
# q196 — IVF n_probe sweep recall table (index-tuning curve, one pass)
# --------------------------------------------------------------------------
_PROBE_SWEEP = (1, 2, 4)


def q196_ivf_probe_sweep(
    spark: SparkSession, sf_dir: str, sample_frac: float = 1.0
) -> DataFrame:
    """Recall@k of the IVF index at n_probe ∈ {1, 2, 4} from ONE index
    pass → (n_probe, n_hits, n_truth, recall). q114 scores the shipped
    configuration; this is the curve the configuration is CHOSEN from —
    probe cost is linear in n_probe, so the operating point is where
    this curve flattens. The sweep scores candidates once at the
    deepest level and re-ranks per level (operators/similarity.py::
    ivf_probe_sweep — the q146/q182 one-pass sweep posture applied to
    an index knob).

    ``sample_frac`` < 1 gates the QUERY side deterministically
    (md5_sample_gate), exactly q114's 100× pricing: ground truth at
    |sample|·|corpus|, sweep rows bit-identical to the full run's.
    Integer hit/truth counts; recall is one final IEEE division.
    """
    t = load_tables(spark, sf_dir)
    emb = t["embeddings"]
    qset = None
    gate = None
    if sample_frac < 1.0:
        gate = md5_sample_gate(F.col("vec_id"), sample_frac, salt="ivfsweep")
        qset = emb.filter(gate)
    ex = cosine_topk_bruteforce(
        emb, "vec_id", "embedding", k=3, max_n=None, queries=qset
    )
    sw, pins = ivf_probe_sweep(
        emb, "vec_id", "embedding", k=3, n_centroids=_IVF_C, probes=_PROBE_SWEEP
    )
    if gate is not None:
        sw = sw.filter(md5_sample_gate(F.col("vec_id"), sample_frac, salt="ivfsweep"))
    lv = F.explode(
        F.array(*[F.lit(int(p)) for p in sorted(_PROBE_SWEEP)])
    ).alias("n_probe")
    exl = ex.select(lv, "vec_id", "neighbor_id")
    hits = exl.join(
        sw.select("n_probe", "vec_id", "neighbor_id", F.lit(1).alias("_hit")),
        ["n_probe", "vec_id", "neighbor_id"],
        "left",
    )
    res = hits.groupBy("n_probe").agg(
        F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("bigint").alias("n_hits"),
        F.count(F.lit(1)).cast("bigint").alias("n_truth"),
        F.round(
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("double")
            / F.count(F.lit(1)).cast("double"),
            9,
        ).alias("recall"),
    )
    return materialize_release(res, *pins)


def _sql_ivf_sweep() -> str:
    max_p = max(_PROBE_SWEEP)
    levels = ", ".join(str(p) for p in sorted(_PROBE_SWEEP))
    return f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd FROM embeddings
), n AS (
  SELECT vec_id, vd,
         sqrt(list_reduce(list_transform(vd, x -> x * x), (a, b) -> a + b)) AS nrm
  FROM v
), cents AS (
  SELECT vec_id AS cent_id, vd AS c_vec, nrm AS c_nrm FROM n
  ORDER BY vec_id LIMIT {_IVF_C}
), scoredc AS (
  SELECT n.vec_id, n.vd, n.nrm, c.cent_id,
         {_SQL_DOT.format(a='n.vd', b='c.c_vec')} / (n.nrm * c.c_nrm) AS c_cos
  FROM n CROSS JOIN cents c
), rankedc AS (
  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY c_cos DESC, cent_id ASC) AS crn
  FROM scoredc
), cells AS (
  SELECT cent_id AS cell, vec_id AS m_id, vd AS m_vec, nrm AS m_nrm
  FROM rankedc WHERE crn = 1
), probes AS (
  SELECT vec_id, vd AS q_vec, nrm AS q_nrm, cent_id AS cell, crn
  FROM rankedc WHERE crn <= {max_p}
), cand AS (
  SELECT p.vec_id, c.m_id, p.crn,
         {_SQL_DOT.format(a='p.q_vec', b='c.m_vec')} / (p.q_nrm * c.m_nrm) AS cos_raw
  FROM probes p JOIN cells c USING (cell)
  WHERE p.vec_id <> c.m_id
), lv AS (
  SELECT CAST(unnest([{levels}]) AS INTEGER) AS n_probe
), tagged AS (
  SELECT l.n_probe, c.vec_id, c.m_id, c.cos_raw
  FROM cand c, lv l WHERE c.crn <= l.n_probe
), ranked2 AS (
  SELECT n_probe, vec_id, m_id,
         row_number() OVER (PARTITION BY n_probe, vec_id
                            ORDER BY cos_raw DESC, m_id ASC) AS rn
  FROM tagged
), sw AS (
  SELECT n_probe, vec_id, m_id FROM ranked2 WHERE rn <= 3
), ex AS ({Q31_SQL}),
exl AS (
  SELECT l.n_probe, e.vec_id, e.neighbor_id FROM ex e, lv l
)
SELECT exl.n_probe,
       CAST(SUM(CASE WHEN sw.m_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_hits,
       CAST(count(*) AS BIGINT) AS n_truth,
       round(CAST(SUM(CASE WHEN sw.m_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(count(*) AS DOUBLE), 9) AS recall
FROM exl
LEFT JOIN sw ON sw.n_probe = exl.n_probe AND sw.vec_id = exl.vec_id
            AND sw.m_id = exl.neighbor_id
GROUP BY exl.n_probe
"""


Q196_SQL = _sql_ivf_sweep()


# --------------------------------------------------------------------------
# q197 — template suffixes (boilerplate TAILS; q161 flags the heads)
# --------------------------------------------------------------------------
def q197_template_suffixes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents sharing an identical last-10-token suffix, grouped:
    (suffix_md5, n_docs, keeper_id) for groups of ≥ 2 — the footer/
    signature/license-block detector. Generated and scraped pages share
    TAILS (copyright lines, nav footers, email signatures) at least as
    often as heads; q161 catches the heads, this is its mirror. Same
    shape: one digest-keyed shuffle, wide text never travels.
    """
    t = load_tables(spark, sf_dir)
    d = t["documents"].select(
        "doc_id", tokenize(F.col("text")).alias("toks")
    ).filter(F.size("toks") >= _PREFIX_TOKENS)
    suf = F.md5(
        F.concat_ws(
            " ",
            F.slice(F.col("toks"), F.size("toks") - (_PREFIX_TOKENS - 1), _PREFIX_TOKENS),
        )
    )
    return (
        d.select("doc_id", suf.alias("suffix_md5"))
        .groupBy("suffix_md5")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("doc_id").alias("keeper_id"),
        )
        .filter(F.col("n_docs") >= 2)
    )


Q197_SQL = rf"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w FROM documents
), suf AS (
  SELECT doc_id,
         md5(array_to_string(
           list_slice(w, len(w) - {_PREFIX_TOKENS - 1}, len(w)), ' ')) AS suffix_md5
  FROM toks WHERE len(w) >= {_PREFIX_TOKENS}
)
SELECT suffix_md5, CAST(count(*) AS BIGINT) AS n_docs, min(doc_id) AS keeper_id
FROM suf GROUP BY suffix_md5 HAVING count(*) >= 2
"""


# --------------------------------------------------------------------------
# q198 — cross-snapshot near-dup sweep (incremental ingest audit)
# --------------------------------------------------------------------------
def q198_snapshot_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which documents ADDED in q187's v2 snapshot are near-dups of the
    EXISTING corpus → (a_id, b_id, jaccard) with a = v1 doc, b = new v2
    doc. q163 dedups an increment EXACTLY; this is the near-dup pass an
    incremental ingest runs next (the batch twin of the streaming
    minhash ingest sink's history check). ``ngram_jaccard_cross`` keeps
    the big v1 side from paying its own quadratic fan-out: the pair
    stream is a-postings ⋈ b-postings only, with the combined-df cap.
    """
    from ..operators.dedup import ngram_jaccard_cross

    t = load_tables(spark, sf_dir)
    base = t["documents"].select("doc_id", "text")
    new_docs = base.filter(F.col("doc_id") % 19 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.lit("new revision of "), F.col("text")).alias("text"),
    )
    pairs, pins = ngram_jaccard_cross(
        base, new_docs, "doc_id", "text", threshold=0.8, max_df=_J_MAX_DF
    )
    res = pairs.select("a_id", "b_id", F.round("jaccard", 9).alias("jaccard"))
    return materialize_release(res, *pins)


Q198_SQL = rf"""
WITH v1 AS (SELECT doc_id, text, 0 AS side FROM documents),
newd AS (
  SELECT doc_id + 1000000 AS doc_id, 'new revision of ' || text AS text, 1 AS side
  FROM documents WHERE doc_id % 19 = 0
),
allsides AS (SELECT * FROM v1 UNION ALL SELECT * FROM newd),
words AS (
  SELECT doc_id, side, regexp_split_to_array(trim(lower(text)), '\s+') AS w
  FROM allsides
),
sh AS (
  SELECT doc_id, side, list_distinct(list_transform(range(1, len(w)-1),
         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
  FROM words WHERE len(w) >= 3
),
posts0 AS (
  SELECT doc_id, side, {_sql_md5_60bit('shingle')} AS sh_h
  FROM (SELECT doc_id, side, unnest(sh) AS shingle FROM sh)
),
freq AS (SELECT sh_h FROM posts0 GROUP BY sh_h HAVING count(*) <= {_J_MAX_DF}),
posts AS (SELECT p.doc_id, p.side, p.sh_h FROM posts0 p JOIN freq USING (sh_h)),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM posts GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_inter
  FROM posts a JOIN posts b ON a.sh_h = b.sh_h
  WHERE a.side = 0 AND b.side = 1
  GROUP BY a.doc_id, b.doc_id
)
SELECT a_id, b_id,
       round(CAST(n_inter AS DOUBLE)
             / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE), 9) AS jaccard
FROM inter
JOIN sizes sa ON a_id = sa.doc_id
JOIN sizes sb ON b_id = sb.doc_id
WHERE CAST(n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) >= 0.8
"""


# --------------------------------------------------------------------------
# q199 — per-source Gopher gate pass rates (filter-impact rollup)
# --------------------------------------------------------------------------
def q199_gate_pass_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q141's per-document Gopher flags rolled up per source: document
    count and the pass rate of each rule plus the all-rules keep rate →
    the filter-impact table a curation owner reads BEFORE enabling the
    gate (a source failing one rule at 40% is a rule-calibration
    problem, not a data problem). Shape: q141's zero-shuffle map + one
    slim doc_id→source join + one groupBy(source). Rates divide exact
    integer sums in double (round 9).
    """
    t = load_tables(spark, sf_dir)
    flags = q141_gopher_rules(spark, sf_dir).select(
        "doc_id", "ok_words", "ok_mwl", "ok_symbols", "ok_alpha",
        "ok_stopwords", "keep",
    )
    src = t["documents"].select("doc_id", "source")
    j = flags.join(src, "doc_id")
    n = F.count(F.lit(1))

    def rate(c: str) -> Column:
        return F.round(
            F.sum(F.col(c).cast("bigint")).cast("double") / n.cast("double"), 9
        ).alias(f"rate_{c}")

    return j.groupBy("source").agg(
        n.cast("bigint").alias("n_docs"),
        rate("ok_words"),
        rate("ok_mwl"),
        rate("ok_symbols"),
        rate("ok_alpha"),
        rate("ok_stopwords"),
        rate("keep"),
    )


Q199_SQL = f"""
WITH flags AS ({Q141_SQL}),
j AS (
  SELECT d.source, f.ok_words, f.ok_mwl, f.ok_symbols, f.ok_alpha,
         f.ok_stopwords, f.keep
  FROM flags f JOIN documents d USING (doc_id)
)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       round(CAST(sum(ok_words) AS DOUBLE) / CAST(count(*) AS DOUBLE), 9)
         AS rate_ok_words,
       round(CAST(sum(ok_mwl) AS DOUBLE) / CAST(count(*) AS DOUBLE), 9)
         AS rate_ok_mwl,
       round(CAST(sum(ok_symbols) AS DOUBLE) / CAST(count(*) AS DOUBLE), 9)
         AS rate_ok_symbols,
       round(CAST(sum(ok_alpha) AS DOUBLE) / CAST(count(*) AS DOUBLE), 9)
         AS rate_ok_alpha,
       round(CAST(sum(ok_stopwords) AS DOUBLE) / CAST(count(*) AS DOUBLE), 9)
         AS rate_ok_stopwords,
       round(CAST(sum(keep) AS DOUBLE) / CAST(count(*) AS DOUBLE), 9) AS rate_keep
FROM j GROUP BY source
"""


# --------------------------------------------------------------------------
# q200 — integer token-budget apportionment (largest-remainder method)
# --------------------------------------------------------------------------
_BUDGET_TOKENS = 1_000_000


def q200_budget_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q145's mixture weights turned into an INTEGER token allocation
    that sums exactly to the budget: largest-remainder (Hamilton)
    apportionment of ``_BUDGET_TOKENS`` (1M) tokens across sources →
    (source, n_tokens, weight, alloc_tokens, epochs_alloc). Floating
    shares never sum to the budget after truncation; the largest-
    remainder step hands the leftover to the sources with the biggest
    fractional parts (ties broken by source name), which is the
    deterministic, auditable version of "just round it". Σalloc ≡
    budget by construction — the invariant a downstream sharder (q77)
    gets to assume.

    Shape: one groupBy(source) + one 1-row broadcast + two windows over
    a |sources|-row frame (the single-partition exchange is bounded by
    the source count, not the corpus — same argument as q145's output).
    Exactness: floor of identical doubles, integer leftover arithmetic,
    rank ties broken totally.
    """
    t = load_tables(spark, sf_dir)
    d = t["documents"].select(
        "source", F.size(tokenize(F.col("text"))).cast("bigint").alias("n_toks")
    )
    per = d.groupBy("source").agg(F.sum("n_toks").cast("bigint").alias("n_tokens"))
    per = per.withColumn("sq", F.sqrt(F.col("n_tokens").cast("double")))
    tot = per.agg(dsum(F.col("sq")).alias("sq_total"))
    w = F.col("sq") / F.col("sq_total")
    shares = per.join(F.broadcast(tot)).select(
        "source",
        "n_tokens",
        w.alias("weight"),
        (F.lit(float(_BUDGET_TOKENS)) * w).alias("share"),
    )
    shares = shares.select(
        "source",
        "n_tokens",
        "weight",
        F.floor("share").cast("bigint").alias("fl"),
        (F.col("share") - F.floor("share")).alias("rem"),
    )
    leftover = shares.agg(
        (F.lit(_BUDGET_TOKENS) - F.sum("fl")).cast("bigint").alias("leftover")
    )
    wr = Window.orderBy(F.col("rem").desc(), F.col("source").asc())
    alloc = (
        shares.join(F.broadcast(leftover))
        .withColumn("rk", F.row_number().over(wr))
        .select(
            "source",
            "n_tokens",
            F.round("weight", 9).alias("weight"),
            (
                F.col("fl")
                + (F.col("rk") <= F.col("leftover")).cast("bigint")
            ).alias("alloc_tokens"),
        )
    )
    return alloc.select(
        "source",
        "n_tokens",
        "weight",
        "alloc_tokens",
        F.round(
            F.col("alloc_tokens").cast("double") / F.col("n_tokens").cast("double"),
            6,
        ).alias("epochs_alloc"),
    )


Q200_SQL = rf"""
WITH per AS (
  SELECT source,
         CAST(sum(len(regexp_split_to_array(trim(lower(text)), '\s+'))) AS BIGINT)
           AS n_tokens
  FROM documents GROUP BY source
), sq AS (
  SELECT source, n_tokens, sqrt(CAST(n_tokens AS DOUBLE)) AS sq FROM per
), tot AS (
  SELECT {sql_dsum('sq')} AS sq_total FROM sq
), shares AS (
  SELECT source, n_tokens, sq / sq_total AS weight,
         CAST({_BUDGET_TOKENS}.0 AS DOUBLE) * (sq / sq_total) AS share
  FROM sq CROSS JOIN tot
), fl AS (
  SELECT source, n_tokens, weight,
         CAST(floor(share) AS BIGINT) AS fl, share - floor(share) AS rem
  FROM shares
), lo AS (
  SELECT CAST({_BUDGET_TOKENS} - sum(fl) AS BIGINT) AS leftover FROM fl
), ranked AS (
  SELECT fl.*, lo.leftover,
         row_number() OVER (ORDER BY fl.rem DESC, fl.source ASC) AS rk
  FROM fl CROSS JOIN lo
)
SELECT source, n_tokens, round(weight, 9) AS weight,
       CAST(fl + (CASE WHEN rk <= leftover THEN 1 ELSE 0 END) AS BIGINT)
         AS alloc_tokens,
       round(CAST(fl + (CASE WHEN rk <= leftover THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(n_tokens AS DOUBLE), 6) AS epochs_alloc
FROM ranked
"""


# --------------------------------------------------------------------------
# q201 — directed source-containment matrix (who quotes whom)
# --------------------------------------------------------------------------
def q201_source_containment_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q195's containment pairs rolled up to a DIRECTED source matrix:
    for each (src_contained, src_container) pair, how many documents of
    the first source are ≥ 90% contained in a document of the second,
    and the mean containment → the who-quotes-whom table. q180's dup
    matrix is symmetric (same content both sides); this one has an
    arrow — a mirror site CONTAINS the origin, not vice versa — which
    is what a licensing/provenance review actually asks.

    Shape: ONE containment pair generation (the capped q29 join) + two
    slim id→source joins + a ≤|sources|²-row agg, the q180/q183
    posture. The source-tagged pair table is PERSISTED — both directed
    union legs consume it, and union legs sit outside exchange-reuse's
    reach (the q151 lesson; unpersisted, the pair generation ran twice
    — measured 37.2 s vs 23.7 s for q195's single pass at 10×). Mean
    containment through decimal(38,18) (probability magnitudes, the
    q143 lesson). Each direction of a pair contributes independently
    (both can exceed the cutoff for full clones).
    """
    from pyspark import StorageLevel

    from ..operators.dedup import ngram_containment_pairs

    t = load_tables(spark, sf_dir)
    pairs, pins = ngram_containment_pairs(
        t["documents"], "doc_id", "text", threshold=_CONTAIN_T, max_df=_J_MAX_DF
    )
    src = t["documents"].select("doc_id", "source")
    j = (
        pairs.join(
            src.select(
                F.col("doc_id").alias("a_id"), F.col("source").alias("src_a")
            ),
            "a_id",
        )
        .join(
            src.select(
                F.col("doc_id").alias("b_id"), F.col("source").alias("src_b")
            ),
            "b_id",
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    directed = j.select(
        F.col("src_a").alias("src_contained"),
        F.col("src_b").alias("src_container"),
        F.col("c_a_in_b").alias("containment"),
    ).filter(F.col("containment") >= _CONTAIN_T).unionByName(
        j.select(
            F.col("src_b").alias("src_contained"),
            F.col("src_a").alias("src_container"),
            F.col("c_b_in_a").alias("containment"),
        ).filter(F.col("containment") >= _CONTAIN_T)
    )
    res = directed.groupBy("src_contained", "src_container").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.round(
            F.sum(F.col("containment").cast("decimal(38,18)")).cast("double")
            / F.count(F.lit(1)).cast("double"),
            9,
        ).alias("mean_containment"),
    )
    return materialize_release(res, j, *pins)


Q201_SQL = f"""
WITH cp AS ({_SQL_CONTAIN_CORE}),
src AS (SELECT doc_id, source FROM documents),
directed AS (
  SELECT sa.source AS src_contained, sb.source AS src_container,
         cp.c_a_in_b AS containment
  FROM cp JOIN src sa ON cp.a_id = sa.doc_id
          JOIN src sb ON cp.b_id = sb.doc_id
  WHERE cp.c_a_in_b >= {_CONTAIN_T}
  UNION ALL
  SELECT sb.source, sa.source, cp.c_b_in_a
  FROM cp JOIN src sa ON cp.a_id = sa.doc_id
          JOIN src sb ON cp.b_id = sb.doc_id
  WHERE cp.c_b_in_a >= {_CONTAIN_T}
)
SELECT src_contained, src_container,
       CAST(count(*) AS BIGINT) AS n_pairs,
       round(CAST(SUM(CAST(containment AS DECIMAL(38,18))) AS DOUBLE)
             / CAST(count(*) AS DOUBLE), 9) AS mean_containment
FROM directed GROUP BY src_contained, src_container
"""


# --------------------------------------------------------------------------
# q202 — shard balance audit (is q77's packing actually even?)
# --------------------------------------------------------------------------
def q202_shard_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per shard of q77's token-budget assignment: document count, token
    mass, and the mass ratio against the mean shard → (shard_id,
    n_docs, tokens, ratio_to_mean). The audit that tells you whether
    the sharder's greedy cumsum actually balanced — a ratio spread far
    from 1.0 means stragglers in every downstream per-shard job (the
    thing q183 prices for leakage, priced here for wall-time). Output
    bounded by the shard count.

    Shape: q77 (persisted — consumed by the per-shard agg and the mean)
    + one groupBy(shard_id) + a 1-row mean broadcast (q89's class).
    """
    from pyspark import StorageLevel

    per = (
        q77_token_shards(spark, sf_dir)
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_toks").cast("bigint").alias("tokens"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    mean = per.agg(
        (
            F.sum(F.col("tokens").cast("decimal(38,0)")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("mean_tokens")
    )
    res = per.join(F.broadcast(mean)).select(
        "shard_id",
        "n_docs",
        "tokens",
        F.round(
            F.col("tokens").cast("double") / F.col("mean_tokens"), 6
        ).alias("ratio_to_mean"),
    )
    return materialize_release(res, per)


Q202_SQL = f"""
WITH shards AS ({Q77_SQL}),
per AS (
  SELECT shard_id, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_toks) AS BIGINT) AS tokens
  FROM shards GROUP BY shard_id
),
m AS (
  SELECT CAST(SUM(CAST(tokens AS DECIMAL(38,0))) AS DOUBLE)
           / CAST(count(*) AS DOUBLE) AS mean_tokens
  FROM per
)
SELECT shard_id, n_docs, tokens,
       round(CAST(tokens AS DOUBLE) / mean_tokens, 6) AS ratio_to_mean
FROM per CROSS JOIN m
"""


# --------------------------------------------------------------------------
# q203 — clone-component cohesion (the transitive-chaining audit)
# --------------------------------------------------------------------------
def q203_component_cohesion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per near-dup component: member count, edge count, minimum and
    mean edge Jaccard, and edge density → (component, n_members,
    n_edges, min_jaccard, mean_jaccard, density). THE known failure of
    connected-components dedup is transitive chaining — A≈B≈C where
    A and C share nothing — and it is visible exactly here: a chained
    component has density ≪ 1 and min_jaccard at the threshold floor,
    while a true clone set is a dense clique with min ≈ 1. q186 counts
    cluster sizes; this measures whether collapsing each cluster to one
    keeper was JUSTIFIED.

    Shape: the capped pair graph ONCE (persisted — consumed by CC and
    by the edge rollup, the q151 lesson), CC's audited 2-round
    propagation, one id-keyed join of edges onto component labels, one
    component-keyed agg. Density divides exact integers in double.
    """
    from pyspark import StorageLevel

    from ..operators.components import connected_components

    t = load_tables(spark, sf_dir)
    pairs, pins = ngram_jaccard_pairs(
        t["documents"], "doc_id", "text", threshold=0.8, max_df=_J_MAX_DF
    )
    pairs = pairs.persist(StorageLevel.MEMORY_AND_DISK)
    comp = connected_components(pairs, "a_id", "b_id")
    members = comp.groupBy("component").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members")
    )
    edges = (
        pairs.join(
            comp.select(F.col("node").alias("a_id"), "component"), "a_id"
        )
        .groupBy("component")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_edges"),
            F.round(F.min("jaccard"), 9).alias("min_jaccard"),
            F.round(
                F.sum(F.col("jaccard").cast("decimal(38,18)")).cast("double")
                / F.count(F.lit(1)).cast("double"),
                9,
            ).alias("mean_jaccard"),
        )
    )
    nm = F.col("n_members").cast("double")
    res = members.join(edges, "component").select(
        "component",
        "n_members",
        "n_edges",
        "min_jaccard",
        "mean_jaccard",
        F.round(
            F.col("n_edges").cast("double") / (nm * (nm - F.lit(1.0)) / F.lit(2.0)),
            6,
        ).alias("density"),
    )
    return materialize_release(res, pairs, *pins)


Q203_SQL = f"""
WITH comp AS ({Q72_SQL}),
pairs AS ({_sql_jaccard_pairs(0.8)}),
members AS (
  SELECT component, CAST(count(*) AS BIGINT) AS n_members
  FROM comp GROUP BY component
),
edges AS (
  SELECT c.component, CAST(count(*) AS BIGINT) AS n_edges,
         round(min(p.jaccard), 9) AS min_jaccard,
         round(CAST(SUM(CAST(p.jaccard AS DECIMAL(38,18))) AS DOUBLE)
               / CAST(count(*) AS DOUBLE), 9) AS mean_jaccard
  FROM pairs p JOIN comp c ON p.a_id = c.node
  GROUP BY c.component
)
SELECT m.component, m.n_members, e.n_edges, e.min_jaccard, e.mean_jaccard,
       round(CAST(e.n_edges AS DOUBLE)
             / (CAST(m.n_members AS DOUBLE)
                * (CAST(m.n_members AS DOUBLE) - 1.0) / 2.0), 6) AS density
FROM members m JOIN edges e USING (component)
"""



# --------------------------------------------------------------------------
# q210 — MinHash-LSH precision/recall vs exact Jaccard (band quality)
# --------------------------------------------------------------------------
def q210_lsh_pr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate quality of the q28 MinHash band index against the q29
    exact-Jaccard truth at 0.8 → ONE row (n_candidates, n_truth,
    n_hits, precision, recall). q152 calibrates signature AGREEMENT
    against true Jaccard; this scores the deployed (k, bands) config as
    a retrieval system — precision prices the wasted exact-verify work,
    recall prices the missed duplicates, the two numbers an LSH config
    review actually reads (q182 predicts recall analytically; this
    measures it). Both pair tables are the already-audited generators;
    the comparison is one full-outer join on the (a, b) key.
    """
    t = load_tables(spark, sf_dir)
    cand = minhash_lsh_pairs(
        t["documents"], "doc_id", "text", k=_MH_K, bands=_MH_BANDS
    ).select("a_id", "b_id", F.lit(1).alias("_c"))
    truth, pins = ngram_jaccard_pairs(
        t["documents"], "doc_id", "text", threshold=0.8, max_df=_J_MAX_DF
    )
    truth = truth.select("a_id", "b_id", F.lit(1).alias("_t"))
    j = cand.join(truth, ["a_id", "b_id"], "full_outer")
    n_c = F.sum(F.coalesce(F.col("_c"), F.lit(0))).cast("bigint")
    n_t = F.sum(F.coalesce(F.col("_t"), F.lit(0))).cast("bigint")
    n_h = F.sum(
        F.when(F.col("_c").isNotNull() & F.col("_t").isNotNull(), 1).otherwise(0)
    ).cast("bigint")
    res = j.agg(
        n_c.alias("n_candidates"),
        n_t.alias("n_truth"),
        n_h.alias("n_hits"),
        F.round(n_h.cast("double") / n_c.cast("double"), 9).alias("precision"),
        F.round(n_h.cast("double") / n_t.cast("double"), 9).alias("recall"),
    )
    return materialize_release(res, *pins)


Q210_SQL = f"""
WITH cand AS ({Q28_SQL}),
truth AS ({_sql_jaccard_pairs(0.8)}),
j AS (
  SELECT coalesce(c.a_id, t.a_id) AS a_id,
         (c.a_id IS NOT NULL) AS in_cand, (t.a_id IS NOT NULL) AS in_truth
  FROM cand c FULL OUTER JOIN truth t
    ON c.a_id = t.a_id AND c.b_id = t.b_id
)
SELECT CAST(SUM(CASE WHEN in_cand THEN 1 ELSE 0 END) AS BIGINT) AS n_candidates,
       CAST(SUM(CASE WHEN in_truth THEN 1 ELSE 0 END) AS BIGINT) AS n_truth,
       CAST(SUM(CASE WHEN in_cand AND in_truth THEN 1 ELSE 0 END) AS BIGINT)
         AS n_hits,
       round(CAST(SUM(CASE WHEN in_cand AND in_truth THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(SUM(CASE WHEN in_cand THEN 1 ELSE 0 END) AS DOUBLE), 9)
         AS precision,
       round(CAST(SUM(CASE WHEN in_cand AND in_truth THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(SUM(CASE WHEN in_truth THEN 1 ELSE 0 END) AS DOUBLE), 9)
         AS recall
FROM j
"""



# --------------------------------------------------------------------------
# q212 — triangle count on the near-dup graph (clique-ness beyond density)
# --------------------------------------------------------------------------
def q212_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangles in the q29 near-dup graph, per component → (component,
    n_triangles). The classic distributed graph primitive done the
    scale-safe way: edges ordered (a < b), triangles found by joining
    the edge list to itself on the shared endpoint and probing the
    closing edge — two equi-joins on the PAIR table (never the corpus),
    each output row a genuine triangle counted exactly once by the
    a<b<c ordering. A component whose triangle count is far below
    C(n,3) is a CHAIN, not a clique — the numeric form of q203's
    density warning. The persisted pair graph serves the triangle
    joins AND the component labels (the q151 lesson).
    """
    from pyspark import StorageLevel

    from ..operators.components import connected_components

    t = load_tables(spark, sf_dir)
    pairs, pins = ngram_jaccard_pairs(
        t["documents"], "doc_id", "text", threshold=0.8, max_df=_J_MAX_DF
    )
    e = pairs.select("a_id", "b_id").persist(StorageLevel.MEMORY_AND_DISK)
    # wedge (a<b) + (b<c) → probe the closing (a<c) edge
    ab = e.select(F.col("a_id").alias("a"), F.col("b_id").alias("b"))
    bc = e.select(F.col("a_id").alias("b"), F.col("b_id").alias("c"))
    ac = e.select(F.col("a_id").alias("a"), F.col("b_id").alias("c"))
    tri = ab.join(bc, "b").join(ac, ["a", "c"]).select("a", "b", "c")
    comp = connected_components(e, "a_id", "b_id")
    res = (
        tri.join(comp.select(F.col("node").alias("a"), "component"), "a")
        .groupBy("component")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    )
    return materialize_release(res, e, *pins)


Q212_SQL = f"""
WITH comp AS ({Q72_SQL}),
e AS (SELECT a_id, b_id FROM ({_sql_jaccard_pairs(0.8)}) p),
tri AS (
  SELECT ab.a_id AS a, ab.b_id AS b, bc.b_id AS c
  FROM e ab
  JOIN e bc ON bc.a_id = ab.b_id
  JOIN e ac ON ac.a_id = ab.a_id AND ac.b_id = bc.b_id
)
SELECT c.component, CAST(count(*) AS BIGINT) AS n_triangles
FROM tri JOIN comp c ON tri.a = c.node
GROUP BY c.component
"""



# --------------------------------------------------------------------------
# q215 — clustering coefficient per component (q203+q212 composed)
# --------------------------------------------------------------------------
def q215_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global clustering coefficient of each near-dup component:
    3·triangles / wedges → (component, n_wedges, n_triangles, coeff).
    The single number that separates clone cliques (coeff = 1) from
    transitive chains (coeff → 0) — q203\'s density and q212\'s triangle
    counts reduced to the standard graph statistic. Wedges come from
    the degree table (Σ d·(d−1)/2 per component), triangles from the
    q212 joins; the pair table is persisted ONCE and serves degrees,
    triangles, AND the component labels (the q151 lesson, three ways).
    Integer wedge/triangle counts; one final IEEE division.
    """
    from pyspark import StorageLevel

    from ..operators.components import connected_components

    t = load_tables(spark, sf_dir)
    pairs, pins = ngram_jaccard_pairs(
        t["documents"], "doc_id", "text", threshold=0.8, max_df=_J_MAX_DF
    )
    e = pairs.select("a_id", "b_id").persist(StorageLevel.MEMORY_AND_DISK)
    comp = connected_components(e, "a_id", "b_id")
    deg = (
        e.select(F.explode(F.array("a_id", "b_id")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    wedges = (
        deg.join(comp, "node")
        .groupBy("component")
        .agg(
            F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("bigint").alias("n_wedges")
        )
    )
    ab = e.select(F.col("a_id").alias("a"), F.col("b_id").alias("b"))
    bc = e.select(F.col("a_id").alias("b"), F.col("b_id").alias("c"))
    ac = e.select(F.col("a_id").alias("a"), F.col("b_id").alias("c"))
    tri = (
        ab.join(bc, "b")
        .join(ac, ["a", "c"])
        .join(comp.select(F.col("node").alias("a"), "component"), "a")
        .groupBy("component")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    )
    res = (
        wedges.join(tri, "component", "left")
        .select(
            "component",
            "n_wedges",
            F.coalesce("n_triangles", F.lit(0)).cast("bigint").alias("n_triangles"),
            F.when(
                F.col("n_wedges") > 0,
                F.round(
                    F.lit(3.0)
                    * F.coalesce("n_triangles", F.lit(0)).cast("double")
                    / F.col("n_wedges").cast("double"),
                    9,
                ),
            ).alias("coeff"),
        )
    )
    return materialize_release(res, e, *pins)


Q215_SQL = f"""
WITH comp AS ({Q72_SQL}),
e AS (SELECT a_id, b_id FROM ({_sql_jaccard_pairs(0.8)}) p),
deg AS (
  SELECT node, count(*) AS d FROM (
    SELECT a_id AS node FROM e UNION ALL SELECT b_id FROM e
  ) n GROUP BY node
),
wedges AS (
  SELECT c.component, CAST(sum(deg.d * (deg.d - 1) / 2) AS BIGINT) AS n_wedges
  FROM deg JOIN comp c ON deg.node = c.node GROUP BY c.component
),
tri AS (
  SELECT c.component, CAST(count(*) AS BIGINT) AS n_triangles
  FROM e ab
  JOIN e bc ON bc.a_id = ab.b_id
  JOIN e ac ON ac.a_id = ab.a_id AND ac.b_id = bc.b_id
  JOIN comp c ON ab.a_id = c.node
  GROUP BY c.component
)
SELECT w.component, w.n_wedges,
       CAST(coalesce(t.n_triangles, 0) AS BIGINT) AS n_triangles,
       CASE WHEN w.n_wedges > 0 THEN
         round(3.0 * CAST(coalesce(t.n_triangles, 0) AS DOUBLE)
               / CAST(w.n_wedges AS DOUBLE), 9)
       END AS coeff
FROM wedges w LEFT JOIN tri t USING (component)
"""



# --------------------------------------------------------------------------
# q219 — near-dup survivorship by source (who loses docs to dedup)
# --------------------------------------------------------------------------
def q219_neardup_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q135\'s quality-keeper decisions rolled up per source → (source,
    n_docs, n_kept, n_dropped, keep_rate). q194 prices EXACT-dup impact
    on the mixture; this is the near-dup version with quality-aware
    keepers — the table that shows which source systematically loses
    the keeper election (its copies are the low-quality ones) and will
    shrink after dedup far more than its raw duplicate rate suggests.
    Shape: q135\'s audited pair+CC+window subtree + one slim id→source
    join + a groupBy(source). Integer counts; one final division.
    """
    t = load_tables(spark, sf_dir)
    keep = q135_quality_keeper(spark, sf_dir).select("doc_id", "is_keeper")
    src = t["documents"].select("doc_id", "source")
    n = F.count(F.lit(1))
    kept = F.sum(F.when(F.col("is_keeper"), 1).otherwise(0))
    return (
        keep.join(src, "doc_id")
        .groupBy("source")
        .agg(
            n.cast("bigint").alias("n_docs"),
            kept.cast("bigint").alias("n_kept"),
            (n - kept).cast("bigint").alias("n_dropped"),
            F.round(kept.cast("double") / n.cast("double"), 9).alias("keep_rate"),
        )
    )


Q219_SQL = f"""
WITH keepers AS ({Q135_SQL})
SELECT d.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN k.is_keeper THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(count(*) - SUM(CASE WHEN k.is_keeper THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dropped,
       round(CAST(SUM(CASE WHEN k.is_keeper THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(count(*) AS DOUBLE), 9) AS keep_rate
FROM keepers k JOIN documents d USING (doc_id)
GROUP BY d.source
"""



# --------------------------------------------------------------------------
# q220 — token head-share curve (how top-heavy is the vocabulary?)
# --------------------------------------------------------------------------
_HEAD_KS = (10, 100, 1000)


def q220_head_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative token-mass share of the top-K most frequent types for
    K ∈ {10, 100, 1000} → (k, n_types, head_tokens, share). The
    head-heaviness curve a vocabulary-truncation decision reads next to
    q159\'s OOV sweep (q159 prices coverage per CUTOFF FREQUENCY; this
    prices it per VOCAB SIZE — the axis tokenizer budgets are set on).
    Rank over type counts via ``dist_rank`` (plans/common.py — the q95
    shape, no single-partition window over |vocab|), ties broken by
    token; all three K levels read ONE ranked table. Integer sums; one
    final division per row.
    """
    t = load_tables(spark, sf_dir)
    counts = (
        t["documents"]
        .select(F.explode(tokenize(F.col("text"))).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .withColumn("negc", -F.col("c"))
    )
    from .common import dist_rank

    ranked, pin = dist_rank(counts, ["negc", "tok"], out="r")
    # Total from the PIN, not the pre-repartition `counts` lineage: both
    # consumers then read the persisted repartitioned counts, so the
    # token explode+groupBy subtree executes once (ADVICE r7).
    tot = pin.agg(F.sum("c").cast("bigint").alias("total"))
    lv = F.explode(F.array(*[F.lit(int(k)) for k in _HEAD_KS])).alias("k")
    tagged = ranked.select(lv, "c", "r").filter(F.col("r") <= F.col("k"))
    res = (
        tagged.groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_types"),
            F.sum("c").cast("bigint").alias("head_tokens"),
        )
        .join(F.broadcast(tot))
        .select(
            "k",
            "n_types",
            "head_tokens",
            F.round(
                F.col("head_tokens").cast("double") / F.col("total").cast("double"),
                9,
            ).alias("share"),
        )
    )
    return materialize_release(res, pin)


_head_ks_sql = ", ".join(str(k) for k in _HEAD_KS)
Q220_SQL = rf"""
WITH counts AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
        FROM documents) t
  WHERE tok <> ''
  GROUP BY tok
), ranked AS (
  SELECT c, row_number() OVER (ORDER BY -c, tok) AS r FROM counts
), tot AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM counts),
lv AS (SELECT CAST(unnest([{_head_ks_sql}]) AS INTEGER) AS k)
SELECT lv.k,
       CAST(count(*) AS BIGINT) AS n_types,
       CAST(sum(ranked.c) AS BIGINT) AS head_tokens,
       round(CAST(sum(ranked.c) AS DOUBLE) / CAST(tot.total AS DOUBLE), 9)
         AS share
FROM ranked, lv, tot
WHERE ranked.r <= lv.k
GROUP BY lv.k, tot.total
"""


# --------------------------------------------------------------------------
# q222 — Zipf doubling-ratio curve (local power-law slope, log-free)
# --------------------------------------------------------------------------
_ZIPF_RANKS = (1, 2, 4, 8, 16, 32, 64, 128, 256, 512)


def q222_zipf_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local Zipf-law diagnostic: for rank r ∈ {1,2,4,…,512}, the count
    at rank r, the count at rank 2r, and their ratio → (rank, c_r, c_2r,
    doubling_ratio). Under Zipf with exponent α the ratio ≈ 2^α at every
    r, so a FLAT ratio column says power law and its level says α — the
    vocabulary-health check next to q220's head-share curve (q220 prices
    truncation; this tests whether the distribution is Zipfian at all,
    the natural-language-vs-template-dump discriminator). Log-free BY
    DESIGN (the q92 discipline: transcendentals are not bit-portable);
    the ratio is one int/int division.

    Shape: q220's exact token-count + ``dist_rank`` subtree (no
    single-partition window over |vocab|), filtered to ≤ 20 rank rows,
    then a broadcast self-join on r2 = 2r. Ranks past the vocabulary end
    drop out identically in both engines (inner join).
    """
    t = load_tables(spark, sf_dir)
    counts = (
        t["documents"]
        .select(F.explode(tokenize(F.col("text"))).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .withColumn("negc", -F.col("c"))
    )
    from .common import dist_rank

    ranked, pin = dist_rank(counts, ["negc", "tok"], out="r")
    wanted = set(_ZIPF_RANKS) | {2 * r for r in _ZIPF_RANKS}
    pts = ranked.filter(F.col("r").isin(*[int(x) for x in sorted(wanted)])).select(
        "r", "c"
    )
    a = pts.select(F.col("r").alias("rank"), F.col("c").alias("c_r")).filter(
        F.col("rank").isin(*[int(x) for x in _ZIPF_RANKS])
    )
    b = pts.select((F.col("r") / 2).cast("bigint").alias("rank"), F.col("c").alias("c_2r"))
    res = (
        a.join(F.broadcast(b), "rank")
        .select(
            "rank",
            "c_r",
            "c_2r",
            F.round(
                F.col("c_r").cast("double") / F.col("c_2r").cast("double"), 9
            ).alias("doubling_ratio"),
        )
    )
    return materialize_release(res, pin)


_zipf_ranks_sql = ", ".join(str(r) for r in _ZIPF_RANKS)
_zipf_all_sql = ", ".join(
    str(x) for x in sorted(set(_ZIPF_RANKS) | {2 * r for r in _ZIPF_RANKS})
)
Q222_SQL = rf"""
WITH counts AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
        FROM documents) t
  WHERE tok <> ''
  GROUP BY tok
), ranked AS (
  SELECT c, row_number() OVER (ORDER BY -c, tok) AS r FROM counts
), pts AS (
  SELECT r, c FROM ranked WHERE r IN ({_zipf_all_sql})
)
SELECT a.r AS rank, a.c AS c_r, b.c AS c_2r,
       round(CAST(a.c AS DOUBLE) / CAST(b.c AS DOUBLE), 9) AS doubling_ratio
FROM pts a JOIN pts b ON b.r = a.r * 2
WHERE a.r IN ({_zipf_ranks_sql})
"""


# --------------------------------------------------------------------------
# q223 — effective vocabulary per source (inverse Simpson, log-free)
# --------------------------------------------------------------------------
def q223_effective_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source lexical concentration → (source, n_tokens, n_types,
    simpson, effective_vocab). simpson = Σ(n_t/N)² is the probability
    two random tokens coincide; effective_vocab = 1/simpson is the
    'inverse Simpson' — the vocabulary size an equally-mixed source
    would need to look this diverse. The mixture-health number that
    catches a source whose nominal vocabulary is large but whose mass
    sits on a handful of template tokens (q167 counts types; this
    weights them). Entropy would need a log — not bit-portable (the
    q92/q116 discipline); inverse Simpson is the standard log-free
    diversity index and is exact: Σ n_t² in DECIMAL(38,0) (bigint
    squares overflow at corpus scale), one division at the end.

    Shape: one (source, tok) groupBy + one source re-agg — both
    partial-aggregable; output is |sources| rows.
    """
    t = load_tables(spark, sf_dir)
    st = (
        t["documents"]
        .select("source", F.explode(tokenize(F.col("text"))).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    agg = st.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        # cast BEFORE squaring — bigint c*c wraps first (review r8)
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("c")).alias("_sq"),
    )
    simpson = F.col("_sq").cast("double") / (
        F.col("n_tokens").cast("double") * F.col("n_tokens").cast("double")
    )
    return agg.select(
        "source",
        "n_tokens",
        "n_types",
        F.round(simpson, 9).alias("simpson"),
        F.round(F.lit(1.0) / simpson, 6).alias("effective_vocab"),
    )


Q223_SQL = r"""
WITH st AS (
  SELECT source, tok, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT source,
               unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
        FROM documents) t
  WHERE tok <> ''
  GROUP BY source, tok
), agg AS (
  SELECT source,
         CAST(sum(c) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS n_types,
         SUM(CAST(c AS DECIMAL(38,0)) * c) AS sq
  FROM st GROUP BY source
)
SELECT source, n_tokens, n_types,
       round(CAST(sq AS DOUBLE) / (CAST(n_tokens AS DOUBLE) * CAST(n_tokens AS DOUBLE)), 9)
         AS simpson,
       round(1.0 / (CAST(sq AS DOUBLE) / (CAST(n_tokens AS DOUBLE) * CAST(n_tokens AS DOUBLE))), 6)
         AS effective_vocab
FROM agg
"""


# --------------------------------------------------------------------------
# q224 — class-balance weights over the embedding labels
# --------------------------------------------------------------------------
def q224_class_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The loss-reweighting table an imbalanced classifier head trains
    with → (label, n, inv_freq_weight, inv_sqrt_weight). inv_freq =
    N/(K·n) (mean weight 1 under the class distribution — scikit-learn's
    'balanced' convention); inv_sqrt = √(N/(K·n)) is the softer variant
    retrieval training uses. sqrt IS bit-portable (IEEE 754 requires
    correct rounding — unlike log/pow, the q92 discipline), so both
    columns are exact cross-engine.

    Shape: one label groupBy (map-side combinable) + a 1-row total
    broadcast; output is |labels| rows.
    """
    t = load_tables(spark, sf_dir)
    per = t["embeddings"].groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    tot = per.agg(
        F.sum("n").cast("bigint").alias("_N"),
        F.count(F.lit(1)).cast("bigint").alias("_K"),
    )
    w = F.col("_N").cast("double") / (
        F.col("_K").cast("double") * F.col("n").cast("double")
    )
    return (
        per.join(F.broadcast(tot))
        .select(
            "label",
            "n",
            F.round(w, 9).alias("inv_freq_weight"),
            F.round(F.sqrt(w), 9).alias("inv_sqrt_weight"),
        )
    )


Q224_SQL = """
WITH per AS (
  SELECT label, CAST(count(*) AS BIGINT) AS n FROM embeddings GROUP BY label
), tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(count(*) AS BIGINT) AS kk FROM per
)
SELECT label, n,
       round(CAST(nn AS DOUBLE) / (CAST(kk AS DOUBLE) * CAST(n AS DOUBLE)), 9)
         AS inv_freq_weight,
       round(sqrt(CAST(nn AS DOUBLE) / (CAST(kk AS DOUBLE) * CAST(n AS DOUBLE))), 9)
         AS inv_sqrt_weight
FROM per, tot
"""


# --------------------------------------------------------------------------
# q225 — quality-score reliability vs exact-dup membership
# --------------------------------------------------------------------------
def q225_reliability_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration table for q25's quality score against a label the
    corpus actually has — exact-duplicate membership → per score bin:
    (bin, bin_lo, n_docs, n_dups, dup_rate). If the score means
    anything, dup_rate should fall monotonically with the bin (template
    spam is both low-quality and heavily duplicated); a flat curve says
    the score is noise for this corpus. This is the reliability-diagram
    shape every score-gated filter should be audited with (q189
    correlates score with length; this calibrates it against dups).

    Shape: q172's 20-bin quality binning + q23's md5 digest groupBy +
    one digest-keyed join + a ≤20-cell agg. The dup label rides a
    count>1 over the digest group — no pair generation anywhere.
    """
    t = load_tables(spark, sf_dir)
    d = t["documents"].select(
        "doc_id", "text", tokenize(F.col("text")).alias("toks")
    )
    feats = quality_features(F.col("text"), F.col("toks"))
    b = F.least(F.floor(feats["quality_score"] * 20).cast("int"), F.lit(19))
    binned = d.select("doc_id", F.md5(F.col("text")).alias("dg"), b.alias("bin"))
    dups = (
        binned.groupBy("dg")
        .agg(F.count(F.lit(1)).alias("n_copies"))
        .select("dg", (F.col("n_copies") > 1).alias("is_dup"))
    )
    return (
        binned.join(dups, "dg")
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("is_dup"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_dups"),
        )
        .select(
            "bin",
            F.round(F.col("bin").cast("double") / 20.0, 2).alias("bin_lo"),
            "n_docs",
            "n_dups",
            F.round(
                F.col("n_dups").cast("double") / F.col("n_docs").cast("double"), 9
            ).alias("dup_rate"),
        )
    )


Q225_SQL = rf"""
WITH t0 AS (
  SELECT doc_id, text, md5(text) AS dg,
         regexp_split_to_array(trim(lower(text)), '\s+') AS toks
  FROM documents
), base AS (
  SELECT doc_id, dg,
         CAST(length(text) AS BIGINT) AS n_chars,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS BIGINT) AS alpha_chars,
         CAST({_sql_stop_count('en')} AS BIGINT) AS stop_en
  FROM t0
), scored AS (
  SELECT dg,
         least(CAST(floor((least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.4
           + (CASE WHEN n_tokens > 0 THEN CAST(stop_en AS DOUBLE) / CAST(n_tokens AS DOUBLE) ELSE 0.0 END) * 0.3
           + (CASE WHEN n_chars > 0 THEN CAST(alpha_chars AS DOUBLE) / CAST(n_chars AS DOUBLE) ELSE 0.0 END) * 0.3) * 20) AS INT), 19) AS bin
  FROM base
), dups AS (
  SELECT dg, count(*) > 1 AS is_dup FROM t0 GROUP BY dg
)
SELECT s.bin,
       round(CAST(s.bin AS DOUBLE) / 20.0, 2) AS bin_lo,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN d.is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
       round(CAST(SUM(CASE WHEN d.is_dup THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(count(*) AS DOUBLE), 9) AS dup_rate
FROM scored s JOIN dups d USING (dg)
GROUP BY s.bin
"""


# --------------------------------------------------------------------------
# q227 — degree assortativity of the near-dup graph
# --------------------------------------------------------------------------
def q227_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation of endpoint degrees over the near-dup edge
    list → one row (n_edges, n_nodes, assortativity). Positive: heavy
    duplicators link to heavy duplicators (template families / mirror
    farms — one removal decision cascades); negative: hub-and-spoke
    (one canonical page, many one-off copies — per-hub decisions).
    Newman's r on the symmetrized edge list (each edge contributes both
    orientations, making x̄ = ȳ and σx = σy by construction).

    Exactness: Σd, Σd², Σd_a·d_b are integer sums in DECIMAL(38,0)
    (degree products at corpus scale overflow bigint); the closed form
    is one fixed-order double expression — sqrt is IEEE-portable.
    Shape: the audited q29 pair generator (persisted — it feeds the
    degree agg AND the edge re-join: the q151/q201 union-leg lesson) +
    a persisted degree table joined back on both endpoints; every join
    is pair-table-bounded, never corpus-sized.
    """
    from pyspark import StorageLevel

    t = load_tables(spark, sf_dir)
    pairs, pins = ngram_jaccard_pairs(
        t["documents"], "doc_id", "text", threshold=0.8, max_df=_J_MAX_DF
    )
    pairs = pairs.select("a_id", "b_id").persist(StorageLevel.MEMORY_AND_DISK)
    deg = (
        pairs.select(F.col("a_id").alias("node"))
        .unionAll(pairs.select(F.col("b_id").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    xy = (
        pairs.join(deg.select(F.col("node").alias("a_id"), F.col("d").alias("da")), "a_id")
        .join(deg.select(F.col("node").alias("b_id"), F.col("d").alias("db")), "b_id")
    )
    # Symmetrized sums: each edge counted in both orientations.
    s = xy.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_edges"),
        F.sum((F.col("da") + F.col("db")).cast("decimal(38,0)")).alias("_sx"),
        # casts BEFORE the products — bigint squares wrap first (review r8)
        F.sum(
            F.col("da").cast("decimal(38,0)") * F.col("da")
            + F.col("db").cast("decimal(38,0)") * F.col("db")
        ).alias("_sxx"),
        F.sum(F.lit(2).cast("decimal(38,0)") * F.col("da") * F.col("db")).alias(
            "_sxy"
        ),
    )
    nn = deg.agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
    m2 = (F.col("n_edges") * 2).cast("double")  # symmetrized sample size
    mx = F.col("_sx").cast("double") / m2
    varx = F.col("_sxx").cast("double") / m2 - mx * mx
    cov = F.col("_sxy").cast("double") / m2 - mx * mx
    res = s.join(F.broadcast(nn)).select(
        "n_edges",
        "n_nodes",
        F.when(varx > 0, F.round(cov / varx, 9)).alias("assortativity"),
    )
    return materialize_release(res, pairs, deg, *pins)


Q227_SQL = f"""
WITH e AS (SELECT a_id, b_id FROM ({_sql_jaccard_pairs(0.8)}) p),
deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
    SELECT a_id AS node FROM e UNION ALL SELECT b_id FROM e
  ) n GROUP BY node
),
xy AS (
  SELECT da.d AS da, db.d AS db
  FROM e JOIN deg da ON e.a_id = da.node JOIN deg db ON e.b_id = db.node
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n_edges,
         SUM(CAST(da + db AS DECIMAL(38,0))) AS sx,
         SUM(CAST(da AS DECIMAL(38,0)) * da + CAST(db AS DECIMAL(38,0)) * db) AS sxx,
         SUM(CAST(2 AS DECIMAL(38,0)) * da * db) AS sxy
  FROM xy
),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg)
SELECT s.n_edges, nn.n_nodes,
       CASE WHEN (CAST(sxx AS DOUBLE) / CAST(n_edges * 2 AS DOUBLE)
                  - (CAST(sx AS DOUBLE) / CAST(n_edges * 2 AS DOUBLE))
                    * (CAST(sx AS DOUBLE) / CAST(n_edges * 2 AS DOUBLE))) > 0
       THEN round((CAST(sxy AS DOUBLE) / CAST(n_edges * 2 AS DOUBLE)
                   - (CAST(sx AS DOUBLE) / CAST(n_edges * 2 AS DOUBLE))
                     * (CAST(sx AS DOUBLE) / CAST(n_edges * 2 AS DOUBLE)))
                  / (CAST(sxx AS DOUBLE) / CAST(n_edges * 2 AS DOUBLE)
                     - (CAST(sx AS DOUBLE) / CAST(n_edges * 2 AS DOUBLE))
                       * (CAST(sx AS DOUBLE) / CAST(n_edges * 2 AS DOUBLE))), 9)
       END AS assortativity
FROM s, nn
"""


# --------------------------------------------------------------------------
# q232 — exact stratified train/val/test split (per-source proportions)
# --------------------------------------------------------------------------
_SPLIT_TRAIN, _SPLIT_VAL = 0.8, 0.1


def q232_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified 80/10/10 split with EXACT per-stratum
    proportions → (source, split, n_docs). An md5-gate split (q102's
    shape) is deterministic but only approximately proportioned — a
    small stratum can land 70/20/10 by hash luck and skew per-source
    eval. Here each document is ranked within its source by
    md5(doc_id:'split') and assigned by rank cutoffs floor(0.8·n_s) /
    floor(0.9·n_s), so every stratum's proportions are exact to ±1 doc
    and reruns are bit-identical.

    Shape: ``dist_rank`` grouped by source (plans/common.py) — per-source
    rank WITHOUT a per-source single-partition sort (one 10 TB stratum
    must not become one task; range partitions on (source, digest) keep
    every task bounded) + a broadcast per-source count join + a
    3·|sources| agg.
    """
    from .common import dist_rank

    t = load_tables(spark, sf_dir)
    d = t["documents"].select(
        "source",
        "doc_id",
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":split"))).alias("dg"),
    )
    ranked, pin = dist_rank(d, ["dg", "doc_id"], out="r", group_cols=["source"])
    ns = pin.groupBy("source").agg(F.count(F.lit(1)).cast("bigint").alias("n_s"))
    cut1 = F.floor(F.lit(_SPLIT_TRAIN) * F.col("n_s"))
    cut2 = F.floor(F.lit(_SPLIT_TRAIN + _SPLIT_VAL) * F.col("n_s"))
    res = (
        ranked.join(F.broadcast(ns), "source")
        .select(
            "source",
            F.when(F.col("r") <= cut1, F.lit("train"))
            .when(F.col("r") <= cut2, F.lit("val"))
            .otherwise(F.lit("test"))
            .alias("split"),
        )
        .groupBy("source", "split")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )
    return materialize_release(res, pin)


Q232_SQL = f"""
WITH d AS (
  SELECT source, doc_id,
         md5(CAST(doc_id AS VARCHAR) || ':split') AS dg
  FROM documents
), ranked AS (
  SELECT source,
         row_number() OVER (PARTITION BY source ORDER BY dg, doc_id) AS r,
         count(*) OVER (PARTITION BY source) AS n_s
  FROM d
)
SELECT source,
       CASE WHEN r <= floor({_SPLIT_TRAIN} * n_s) THEN 'train'
            WHEN r <= floor({_SPLIT_TRAIN + _SPLIT_VAL} * n_s) THEN 'val'
            ELSE 'test' END AS split,
       CAST(count(*) AS BIGINT) AS n_docs
FROM ranked
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# q235 — balanced K-per-stratum sample (eval-set builder)
# --------------------------------------------------------------------------
_BAL_K = 25


def q235_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic balanced sample: exactly min(K, n_s) documents per
    source → (source, doc_id, r), K = 25. The eval-set builder's
    primitive — a uniform sample over a skewed corpus is dominated by
    the biggest source, so few-shot/eval suites draw a FIXED quota per
    stratum; md5(doc_id:'bal') ordering makes the draw reproducible
    across reruns, engines, and retries (no RNG), and adding documents
    to one source never changes another source's picks (value-keyed,
    the md5_sample_gate property). q232 splits the whole corpus by
    proportion; this takes an absolute quota.

    Shape: ``dist_rank`` over (source | digest, doc_id) — the
    per-group rank with NO per-group single-partition sort — then a
    rank filter; output is ≤ K·|sources| rows however large the corpus.
    """
    from .common import dist_rank

    t = load_tables(spark, sf_dir)
    d = t["documents"].select(
        "source",
        "doc_id",
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":bal"))).alias("dg"),
    )
    ranked, pin = dist_rank(d, ["dg", "doc_id"], out="r", group_cols=["source"])
    res = ranked.filter(F.col("r") <= _BAL_K).select("source", "doc_id", "r")
    return materialize_release(res, pin)


Q235_SQL = f"""
WITH d AS (
  SELECT source, doc_id,
         md5(CAST(doc_id AS VARCHAR) || ':bal') AS dg
  FROM documents
), ranked AS (
  SELECT source, doc_id,
         row_number() OVER (PARTITION BY source ORDER BY dg, doc_id) AS r
  FROM d
)
SELECT source, doc_id, CAST(r AS BIGINT) AS r FROM ranked WHERE r <= {_BAL_K}
"""


# --------------------------------------------------------------------------
# q238 — IVF cell label purity (clustering-quality audit)
# --------------------------------------------------------------------------
def q238_cell_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label purity of every IVF cell under q38/q164's exact index
    configuration → (cell, n_members, top_label, n_top, purity). Purity
    = majority-label share; a cell whose members disagree on label is a
    recall hole for label-filtered ANN AND a candidate for quantizer
    retraining (q164 audits cell SIZE — balance; this audits cell
    CONTENT — semantic coherence, the external-label twin of q170's
    geometric spread). Assignment is q164's O(n·c) broadcast argmax —
    identical IEEE cosines, identical tie-break — with the label carried
    through, so the oracle's rank-1 window picks the same cells.

    Shape: broadcast assign + one (cell, label) agg + one per-cell
    argmax via max(struct) — all map-side combinable, no per-vector
    window; output is ≤ c rows.
    """
    from ..operators.similarity import with_vector_norm

    t = load_tables(spark, sf_dir)
    base = with_vector_norm(
        t["embeddings"].select(F.col("vec_id").alias("vid"), "embedding", "label"),
        "embedding",
    )
    cents = (
        base.orderBy("vid")
        .limit(_IVF_C)
        .select(
            F.col("vid").alias("cent_id"),
            F.col("vec_d").alias("c_vec"),
            F.col("norm").alias("c_nrm"),
        )
    )
    dot = F.aggregate(
        F.zip_with("vec_d", "c_vec", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )
    scored = base.join(F.broadcast(cents)).select(
        "vid",
        "label",
        F.col("cent_id"),
        (dot / (F.col("norm") * F.col("c_nrm"))).alias("c_cos"),
    )
    assign = scored.groupBy("vid", "label").agg(
        F.max(F.struct(F.col("c_cos"), (-F.col("cent_id")).alias("neg"))).alias("m")
    )
    cl = (
        assign.select((-F.col("m.neg")).alias("cell"), "label")
        .groupBy("cell", "label")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    per_cell = cl.groupBy("cell").agg(
        F.sum("n").cast("bigint").alias("n_members"),
        F.max(F.struct(F.col("n"), (-F.col("label")).cast("bigint").alias("negl"))).alias(
            "top"
        ),
    )
    return per_cell.select(
        "cell",
        "n_members",
        (-F.col("top.negl")).cast("int").alias("top_label"),
        F.col("top.n").alias("n_top"),
        F.round(
            F.col("top.n").cast("double") / F.col("n_members").cast("double"), 9
        ).alias("purity"),
    )


Q238_SQL = f"""
WITH v AS (
  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
  FROM embeddings
), n AS (
  SELECT vec_id, label, vd,
         sqrt(list_reduce(list_transform(vd, x -> x * x), (a, b) -> a + b)) AS nrm
  FROM v
), cents AS (
  SELECT vec_id AS cent_id, vd AS c_vec, nrm AS c_nrm FROM n
  ORDER BY vec_id LIMIT {_IVF_C}
), scored AS (
  SELECT n.vec_id, n.label, c.cent_id,
         {_SQL_DOT.format(a='n.vd', b='c.c_vec')} / (n.nrm * c.c_nrm) AS c_cos
  FROM n CROSS JOIN cents c
), ranked AS (
  SELECT vec_id, label, cent_id,
         row_number() OVER (PARTITION BY vec_id ORDER BY c_cos DESC, cent_id ASC) AS crn
  FROM scored
), cl AS (
  SELECT cent_id AS cell, label, CAST(count(*) AS BIGINT) AS n
  FROM ranked WHERE crn = 1 GROUP BY cent_id, label
), top AS (
  SELECT cell, label, n,
         row_number() OVER (PARTITION BY cell ORDER BY n DESC, label ASC) AS lr,
         CAST(SUM(n) OVER (PARTITION BY cell) AS BIGINT) AS n_members
  FROM cl
)
SELECT cell, n_members, CAST(label AS INTEGER) AS top_label, n AS n_top,
       round(CAST(n AS DOUBLE) / CAST(n_members AS DOUBLE), 9) AS purity
FROM top WHERE lr = 1
"""


# --------------------------------------------------------------------------
# q240 — k-core of the near-dup graph (pinned peel rounds)
# --------------------------------------------------------------------------
# k = 2 so the core is non-empty at EVERY test SF (VERDICT r9: the r9
# gate row passed vacuously as 0 rows ≡ 0 rows because sf0.01's
# near-dup graph has no 3-core at any jaccard threshold — near-dup
# edges sit at ≈1.0 similarity, so lowering the threshold adds
# nothing; the 2-core has nodes at sf0.001, sf0.01 AND sf0.1, so an
# external green row actually certifies the peel). The peel machinery
# is k-generic; 2-core semantics: chains and tree fringe peel away,
# cycles and denser cores survive.
_KCORE_K = 2
_KCORE_ROUNDS = 6


def q240_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core of the near-dup graph via 6 PINNED peel rounds →
    (node, deg_in_core, converged). The k-core is the dense-duplication
    neighborhood detector the component family can't see: CC (q72) says
    WHO is connected, triangles/coefficient (q212/q215) say how
    clique-ish, but a long chain and a dense core land in the same
    component — the k-core keeps only nodes with ≥ k surviving
    neighbors after iterated peeling. At k = 2 that strips every
    tree-like fringe and chain, leaving the cyclic duplication hearts
    where per-page dedup decisions cascade (k is a free parameter of
    the peel; 2 is pinned so the core — and therefore the external
    gate row — is non-empty at every test SF, see _KCORE_K).

    EXACTNESS CONTRACT (the q94 pinned-iteration discipline): both
    engines execute the IDENTICAL 6-round peel, so the oracle is exact
    whether or not the peel has converged; peeling is monotone
    (each round's edge set ⊆ the previous), so ``converged`` =
    (|E₆| = |E₅|) is set-equality, not a heuristic — when true the
    output IS the k-core; when false it is the documented 6-round
    approximation (raise _KCORE_ROUNDS for pathological chains).

    Shape: the audited pair generator once (persisted), then per round
    one degree agg + one two-sided semi-join. Each round's edge set is
    a LAZY localCheckpoint (r13 — the components.py rule): the
    checkpoint truncates the LOGICAL plan at marking time (round N's
    plan references round N−1 FOUR times — two degree-union legs + two
    semi-joins — so un-truncated lineage grows 4^rounds logical copies
    and Catalyst analysis itself melts), and the blocks persist inside
    the first downstream action instead of a dedicated job per round.

    FAULT-TOLERANCE TRADEOFF at cluster scale: ``localCheckpoint``
    stores blocks on executors with NO lineage to recompute them, so an
    executor loss mid-peel fails the job (acceptable locally and for a
    restartable batch job). The 100 TB variant should call
    ``spark.sparkContext.setCheckpointDir(<reliable DFS dir>)`` and
    swap ``localCheckpoint(eager=True)`` for ``checkpoint(eager=True)``
    — same lineage truncation, reliably-stored blocks — or simply rely
    on job retry since the whole peel is deterministic.
    """
    from pyspark import StorageLevel

    from ..execution import loop_execution

    t = load_tables(spark, sf_dir)
    pairs, pins = ngram_jaccard_pairs(
        t["documents"], "doc_id", "text", threshold=0.8, max_df=_J_MAX_DF
    )
    edges = pairs.select("a_id", "b_id").persist(StorageLevel.MEMORY_AND_DISK)
    # Lazy cut + sizing count in ONE job (r14 — the components.py edge-cut
    # idiom): the count below is the checkpoint's materializing action.
    rounds = [edges.localCheckpoint(eager=False)]
    cur = rounds[0]
    # Peel rounds run under the iterative execution posture (r13
    # optimization — the connected_components discipline): each round is
    # one degree agg + two semi-joins of a fixed, known shape over
    # monotonically SHRINKING edge sets, so AQE's per-exchange query-stage
    # jobs buy nothing; shuffle width derives from the materialized
    # round-0 edge count (scale-adaptive, 1 locally / thousands at 100 TB).
    with loop_execution(spark, 2 * rounds[0].count()):
        for _ in range(_KCORE_ROUNDS):
            deg = (
                cur.select(F.col("a_id").alias("node"))
                .unionAll(cur.select(F.col("b_id").alias("node")))
                .groupBy("node")
                .agg(F.count(F.lit(1)).alias("d"))
            )
            keep = deg.filter(F.col("d") >= _KCORE_K).select("node")
            # LAZY cut (r13, the components.py rule): the checkpoint
            # truncates the LOGICAL plan at marking time — the 4^rounds
            # analysis blowup never happens either way — and the blocks
            # persist inside the first downstream action (the
            # convergence count), so the whole peel runs as ONE job
            # chain instead of paying a dedicated checkpoint job per
            # round. Values identical; only WHERE the blocks
            # materialize changes.
            cur = (
                cur.join(keep.withColumnRenamed("node", "a_id"), "a_id", "left_semi")
                .join(keep.withColumnRenamed("node", "b_id"), "b_id", "left_semi")
                .localCheckpoint(eager=False)
            )
            rounds.append(cur)
    n_last = rounds[-1].agg(F.count(F.lit(1)).alias("_nl"))
    n_prev = rounds[-2].agg(F.count(F.lit(1)).alias("_np"))
    conv = n_last.join(F.broadcast(n_prev)).select(
        (F.col("_nl") == F.col("_np")).alias("converged")
    )
    final_deg = (
        rounds[-1]
        .select(F.col("a_id").alias("node"))
        .unionAll(rounds[-1].select(F.col("b_id").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("deg_in_core"))
    )
    res = final_deg.join(F.broadcast(conv)).select("node", "deg_in_core", "converged")
    return materialize_release(res, edges, *pins)


def _sql_kcore_round(prev: str, out: str) -> str:
    # AS MATERIALIZED is load-bearing: each round references the previous
    # edge CTE four times (two degree-union legs + two keep-joins), so an
    # inlined chain re-evaluates the pair subtree 4^rounds times.
    return f"""{out}_keep AS MATERIALIZED (
  SELECT node FROM (
    SELECT node, count(*) AS d FROM (
      SELECT a_id AS node FROM {prev} UNION ALL SELECT b_id FROM {prev}
    ) nn GROUP BY node
  ) dd WHERE d >= {_KCORE_K}
), {out} AS MATERIALIZED (
  SELECT e.a_id, e.b_id FROM {prev} e
  JOIN {out}_keep ka ON e.a_id = ka.node
  JOIN {out}_keep kb ON e.b_id = kb.node
)"""


_kcore_rounds_sql = ",\n".join(
    _sql_kcore_round(f"e{i}", f"e{i + 1}") for i in range(_KCORE_ROUNDS)
)
Q240_SQL = f"""
WITH e0 AS MATERIALIZED (SELECT a_id, b_id FROM ({_sql_jaccard_pairs(0.8)}) p),
{_kcore_rounds_sql},
conv AS (
  SELECT (SELECT count(*) FROM e{_KCORE_ROUNDS})
         = (SELECT count(*) FROM e{_KCORE_ROUNDS - 1}) AS converged
)
SELECT node, CAST(count(*) AS BIGINT) AS deg_in_core, conv.converged
FROM (
  SELECT a_id AS node FROM e{_KCORE_ROUNDS}
  UNION ALL SELECT b_id FROM e{_KCORE_ROUNDS}
) nn, conv
GROUP BY node, conv.converged
"""


# --------------------------------------------------------------------------
# q242 — 2-round label propagation of `lang` over the near-dup graph
# --------------------------------------------------------------------------
_LPA_ROUNDS = 2


def q242_lang_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007), 2 PINNED
    rounds, seeded with each document's `lang`, over the q29 near-dup
    graph → (doc_id, lang0, lang2, changed) for every graph node. The
    label-denoising primitive of the graph family: q153 lists
    cross-lingual dup PAIRS; this turns the whole neighborhood's vote
    into a corrected label — a node whose near-dups all say `en` while
    its own tag says `zh` is a mislabeled crawl record, and `changed`
    marks exactly those.

    EXACTNESS CONTRACT (the q94/q240 pinned-iteration discipline): both
    engines run the IDENTICAL 2 synchronous rounds; the per-node vote is
    a total order — majority neighbor-label count, ties to the
    lexicographically smallest label — expressed as min(struct(-cnt,
    label)) in Spark and row_number(ORDER BY cnt DESC, lab) in the
    oracle, which agree for every tie.

    Shape: the audited pair generator once (persisted — it feeds BOTH
    union legs of the undirected edge list, the q151 rule), then per
    round one neighbor-label equi-join + one (node, label) agg + one
    argmax — all edge-set-bounded, never corpus-sized. Labels frames
    are |nodes|-sized.
    """
    from pyspark import StorageLevel

    from ..execution import posture_tail

    t = load_tables(spark, sf_dir)
    pairs, pins = ngram_jaccard_pairs(
        t["documents"], "doc_id", "text", threshold=0.8, max_df=_J_MAX_DF
    )
    e = pairs.select("a_id", "b_id").persist(StorageLevel.MEMORY_AND_DISK)

    def _rounds(loop_parts):
        und = (
            e.select(F.col("a_id").alias("node"), F.col("b_id").alias("nbr"))
            .unionAll(e.select(F.col("b_id").alias("node"), F.col("a_id").alias("nbr")))
            .repartition(loop_parts, "nbr")
            .sortWithinPartitions("nbr")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        nodes = und.select("node").distinct()
        # NULL-lang documents are excluded from seeding entirely (ADVICE r9:
        # Spark's min(struct) orders a NULL lab FIRST while the oracle's
        # row_number(ORDER BY cnt DESC, lab ASC) orders NULLs LAST, so a
        # NULL label reaching a tie would diverge — the q251 NULL-pin class).
        # An unlabeled node neither votes nor appears in the output.
        l0 = (
            t["documents"]
            .filter(F.col("lang").isNotNull())
            .select(F.col("doc_id").alias("node"), F.col("lang").alias("lab"))
            .join(nodes, "node", "left_semi")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        cur = l0
        for _ in range(_LPA_ROUNDS):
            votes = (
                und.join(cur.withColumnRenamed("node", "nbr"), "nbr")
                .groupBy("node", "lab")
                .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
            )
            cur = votes.groupBy("node").agg(
                F.min(F.struct((-F.col("cnt")).alias("_nc"), F.col("lab").alias("lab")))[
                    "lab"
                ].alias("lab")
            )
        res = (
            l0.select("node", F.col("lab").alias("lang0"))
            .join(cur.select("node", F.col("lab").alias("lang2")), "node")
            .select(
                F.col("node").alias("doc_id"),
                "lang0",
                "lang2",
                (F.col("lang0") != F.col("lang2")).alias("changed"),
            )
        )
        return res, [und, l0]

    # One cheap count over the (persisted) pair table sizes the round
    # loop — the CC operator's discipline applied to the LPA rounds
    # (r13 optimization): the rounds' plan shape is fixed and known
    # (2 pinned rounds, partial-aggregable counts), so they run under
    # the loop posture with the edge table pre-partitioned AND
    # pre-sorted on the join key — at any scale the graph is exchanged
    # once, not once per round. The node-scale slim result is
    # checkpointed inside the posture (the CC label-checkpoint class).
    return posture_tail(spark, 2 * e.count(), _rounds, pins=[e, *pins])


Q242_SQL = f"""
WITH e AS MATERIALIZED (SELECT a_id, b_id FROM ({_sql_jaccard_pairs(0.8)}) p),
und AS MATERIALIZED (
  SELECT a_id AS node, b_id AS nbr FROM e
  UNION ALL SELECT b_id, a_id FROM e
),
l0 AS MATERIALIZED (
  SELECT d.doc_id AS node, d.lang AS lab FROM documents d
  WHERE d.doc_id IN (SELECT node FROM und) AND d.lang IS NOT NULL
),
v1 AS MATERIALIZED (
  SELECT u.node, l.lab, CAST(count(*) AS BIGINT) AS cnt
  FROM und u JOIN l0 l ON u.nbr = l.node GROUP BY u.node, l.lab
),
l1 AS MATERIALIZED (
  SELECT node, lab FROM (
    SELECT node, lab,
           row_number() OVER (PARTITION BY node ORDER BY cnt DESC, lab ASC) AS rn
    FROM v1
  ) WHERE rn = 1
),
v2 AS MATERIALIZED (
  SELECT u.node, l.lab, CAST(count(*) AS BIGINT) AS cnt
  FROM und u JOIN l1 l ON u.nbr = l.node GROUP BY u.node, l.lab
),
l2 AS MATERIALIZED (
  SELECT node, lab FROM (
    SELECT node, lab,
           row_number() OVER (PARTITION BY node ORDER BY cnt DESC, lab ASC) AS rn
    FROM v2
  ) WHERE rn = 1
)
SELECT l0.node AS doc_id, l0.lab AS lang0, l2.lab AS lang2,
       l0.lab <> l2.lab AS changed
FROM l0 JOIN l2 ON l0.node = l2.node
"""


# --------------------------------------------------------------------------
# q243 — windowed co-occurrence counts (GloVe-style, distance-bucketed)
# --------------------------------------------------------------------------
_COOC_MAX_D = 3
_COOC_MIN_N = 5
_COOC_TOPN = 25


def q243_cooc_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 unordered token pairs by window-≤3 co-occurrence, with the
    count SPLIT BY DISTANCE → (x, y, n_d1, n_d2, n_d3, n_total). The
    count table GloVe/word2vec-class embedding training consumes —
    q157 sees only ADJACENT bigrams; the skip-gram window is what makes
    'new york' and 'new … city' both visible. Distance buckets stay
    separate INTEGER columns (the weighted-sum 1/d of the GloVe paper
    is a training-time choice, and ⅓ isn't an exact binary double —
    integers keep the oracle bit-free).

    Shape: per document, the pair list is built INSIDE the array (one
    transform per distance, no posexplode self-join — the corpus is
    never joined to itself); one explode, one (x, y) groupBy with
    map-side-combinable conditional counts, one distributed TakeOrdered
    by the INTEGER total (ties broken by token text). Fan-out is
    ≤ 3 pairs per token position — linear in corpus tokens.
    """
    t = load_tables(spark, sf_dir)
    toks = t["documents"].select(tokenize(F.col("text")).alias("w"))
    def _pair_at(d: int):
        # single-arg lambda on purpose: F.transform feeds a TWO-arg
        # lambda (element, array_index), which would shadow `d`
        return lambda i: F.struct(
            F.least(
                F.element_at("w", i.cast("int")),
                F.element_at("w", (i + d).cast("int")),
            ).alias("x"),
            F.greatest(
                F.element_at("w", i.cast("int")),
                F.element_at("w", (i + d).cast("int")),
            ).alias("y"),
            F.lit(d).alias("d"),
        )

    legs = []
    for d in range(1, _COOC_MAX_D + 1):
        pair_d = F.transform(F.sequence(F.lit(1), F.size("w") - d), _pair_at(d))
        legs.append(
            F.when(F.size("w") > d, pair_d).otherwise(
                F.array().cast("array<struct<x:string,y:string,d:int>>")
            )
        )
    pairs = toks.select(F.explode(F.concat(*legs)).alias("p")).select(
        "p.x", "p.y", "p.d"
    )
    agg = pairs.groupBy("x", "y").agg(
        *[
            F.sum(F.when(F.col("d") == d, 1).otherwise(0))
            .cast("bigint")
            .alias(f"n_d{d}")
            for d in range(1, _COOC_MAX_D + 1)
        ],
        F.count(F.lit(1)).cast("bigint").alias("n_total"),
    )
    return (
        agg.filter(F.col("n_total") >= _COOC_MIN_N)
        .orderBy(F.desc("n_total"), "x", "y")
        .limit(_COOC_TOPN)
    )


Q243_SQL = f"""
WITH words AS ({_SQL_WORDS}),
pr AS (
  SELECT least(w[i], w[i + d]) AS x, greatest(w[i], w[i + d]) AS y, d
  FROM (SELECT w, CAST(unnest(range(1, len(w))) AS INT) AS i
        FROM words WHERE len(w) >= 2),
       (SELECT CAST(unnest([1, 2, 3]) AS INT) AS d) ds
  WHERE i + d <= len(w)
), agg AS (
  SELECT x, y,
         CAST(SUM(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_d1,
         CAST(SUM(CASE WHEN d = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_d2,
         CAST(SUM(CASE WHEN d = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_d3,
         CAST(count(*) AS BIGINT) AS n_total
  FROM pr GROUP BY x, y
)
SELECT x, y, n_d1, n_d2, n_d3, n_total
FROM agg WHERE n_total >= {_COOC_MIN_N}
ORDER BY n_total DESC, x, y LIMIT {_COOC_TOPN}
"""


# --------------------------------------------------------------------------
# q246 — Kendall rank correlation: quality vs length, per source head
# --------------------------------------------------------------------------
_TAU_TOPK = 50


def q246_rank_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's tau-a between quality score and document length over
    each source's top-50 quality documents → (source, n_top,
    concordant, discordant, tied, tau). The rank-agreement audit behind
    "is our quality filter just a length filter?" — q189 answers with
    Pearson on raw values (outlier-dominated); Kendall counts PAIR
    ORDERINGS, the robust form, and staying log/rank-free it is exactly
    portable: concordant/discordant/tied are integer counts over
    products of sign(), tau is one double division.

    Shape: q115's per-source quality window ranks the head (the
    source-partitioned idiom; AQE owns the skew), then the C(50,2)
    pair join runs per source on the 50-row heads — bounded by
    |sources|·C(50,2) pairs regardless of corpus size, never a corpus
    self-join (the q31 brute-force guard class made structural).
    """
    t = load_tables(spark, sf_dir)
    staged = t["documents"].select(
        "doc_id", "source", "n_chars", tokenize(F.col("text")).alias("toks"), "text"
    )
    feats = quality_features(F.col("text"), F.col("toks"))
    scored = staged.select(
        "doc_id", "source", "n_chars", feats["quality_score"].alias("q")
    )
    from pyspark import StorageLevel

    w = Window.partitionBy("source").orderBy(F.col("q").desc(), F.col("doc_id").asc())
    # three consumers (both pair legs + n_top) over a corpus-scan
    # lineage — persisted (the q151 rule); the frame itself is
    # |sources|·50 rows
    head = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _TAU_TOPK)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    a = head.select("source", F.col("doc_id").alias("ida"), F.col("q").alias("qa"),
                    F.col("n_chars").alias("la"))
    b = head.select("source", F.col("doc_id").alias("idb"), F.col("q").alias("qb"),
                    F.col("n_chars").alias("lb"))
    prod = F.signum(F.col("qa") - F.col("qb")) * F.signum(
        F.col("la").cast("double") - F.col("lb").cast("double")
    )
    pairs = (
        a.join(b, "source")
        .filter(F.col("ida") < F.col("idb"))
        .select("source", prod.alias("s"))
    )
    agg = pairs.groupBy("source").agg(
        F.sum(F.when(F.col("s") > 0, 1).otherwise(0)).cast("bigint").alias("concordant"),
        F.sum(F.when(F.col("s") < 0, 1).otherwise(0)).cast("bigint").alias("discordant"),
        F.sum(F.when(F.col("s") == 0, 1).otherwise(0)).cast("bigint").alias("tied"),
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
    )
    n_top = head.groupBy("source").agg(F.count(F.lit(1)).cast("bigint").alias("n_top"))
    tau = (F.col("concordant") - F.col("discordant")).cast("double") / F.col(
        "n_pairs"
    ).cast("double")
    res = agg.join(F.broadcast(n_top), "source").select(
        "source", "n_top", "concordant", "discordant", "tied",
        F.round(tau, 9).alias("tau"),
    )
    return materialize_release(res, head)


Q246_SQL = f"""
WITH q AS ({Q25_SQL}),
scored AS (
  SELECT d.doc_id, d.source, d.n_chars, q.quality_score AS qs
  FROM documents d JOIN q ON q.doc_id = d.doc_id
),
head AS (
  SELECT doc_id, source, n_chars, qs FROM (
    SELECT doc_id, source, n_chars, qs,
           row_number() OVER (PARTITION BY source
                              ORDER BY qs DESC, doc_id ASC) AS rk
    FROM scored
  ) WHERE rk <= {_TAU_TOPK}
),
pairs AS (
  SELECT a.source,
         sign(a.qs - b.qs)
           * sign(CAST(a.n_chars AS DOUBLE) - CAST(b.n_chars AS DOUBLE)) AS s
  FROM head a JOIN head b ON a.source = b.source AND a.doc_id < b.doc_id
),
agg AS (
  SELECT source,
         CAST(SUM(CASE WHEN s > 0 THEN 1 ELSE 0 END) AS BIGINT) AS concordant,
         CAST(SUM(CASE WHEN s < 0 THEN 1 ELSE 0 END) AS BIGINT) AS discordant,
         CAST(SUM(CASE WHEN s = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tied,
         CAST(count(*) AS BIGINT) AS n_pairs
  FROM pairs GROUP BY source
),
ntop AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_top FROM head GROUP BY source
)
SELECT a.source, n.n_top, a.concordant, a.discordant, a.tied,
       round(CAST(a.concordant - a.discordant AS DOUBLE)
             / CAST(a.n_pairs AS DOUBLE), 9) AS tau
FROM agg a JOIN ntop n ON a.source = n.source
"""


# --------------------------------------------------------------------------
# q245 — top principal component via 2 pinned power iterations
# --------------------------------------------------------------------------
_DEC18 = "decimal(38,18)"


def _dsum18(col: Column) -> Column:
    """Order-insensitive exact sum at 1e-18 quantum — the fine-grained
    sibling of plans/common.py::dsum for the small-magnitude fixed-size
    sums of the spectral path (64-term matrix-vector products)."""
    return F.sum(col.cast(_DEC18)).cast("double")


def _sql_dsum18(expr: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(38,18))) AS DOUBLE)"


_PCA_ROUNDS = 2


def _pca_moment_frames(spark: SparkSession, sf_dir: str, persist_emb: bool):
    """Shared head of q245/q254 (r14 optimization, guide §2.3/§2.4 "one
    pass, shuffle fewer bytes"): ONE corpus pass computes EVERY sufficient
    statistic the spectral tail needs — the d·(d+1)/2 upper-triangle
    moment cells, the d per-dim linear sums (the mean numerators), and the
    row count — by tagging each cell with a (aa, bb) key where bb = −1
    marks a linear cell and (−1, −1) marks the count marker. The r13 shape
    paid THREE corpus-sized stages (the Gram expansion, a separate
    per-dim mean pass over the posexploded frame, and a pruned count scan
    per broadcast build); the merged pass pays one, and every sum still
    goes through DECIMAL(38,18) (`_dsum18`, order-insensitive) so the
    values — mu, n, S — are bit-identical to the split passes.

    Returns ``(emb, head, pins)``: the (optionally persisted) spread
    vector frame, the ≤(d²/2 + d + 1)-row moment frame — BOUNDED BY THE
    DIMENSION, the bounded_tail head contract — and the pins to release.
    ``persist_emb`` is for callers with a second corpus pass (q254's
    projection); q245 consumes the corpus exactly once and must not pay
    the cache write."""
    from pyspark import StorageLevel

    t = load_tables(spark, sf_dir)
    # spread first: vector corpora often arrive as 1-2 fat files, and the
    # in-array d²/2 expansion is CPU-bound (the with_vector_norm lesson —
    # unspread, the 10× audit ran the whole Gram pass on 2 cores)
    emb = (
        t["embeddings"]
        .repartition(spark.sparkContext.defaultParallelism)
        .select(
            "vec_id",
            F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("vd"),
        )
    )
    pins: list = []
    if persist_emb:
        emb = emb.persist(StorageLevel.MEMORY_AND_DISK)
        pins.append(emb)
    dd = F.size("vd")
    tri = F.flatten(
        F.transform(
            F.sequence(F.lit(1), dd),
            lambda a: F.transform(
                F.sequence(a, dd),
                lambda b: F.struct(
                    (a - 1).cast("int").alias("aa"),
                    (b - 1).cast("int").alias("bb"),
                    (
                        F.element_at("vd", a.cast("int"))
                        * F.element_at("vd", b.cast("int"))
                    ).alias("p"),
                ),
            ),
        )
    )
    lin = F.transform(
        F.sequence(F.lit(1), dd),
        lambda a: F.struct(
            (a - 1).cast("int").alias("aa"),
            F.lit(-1).cast("int").alias("bb"),
            F.element_at("vd", a.cast("int")).alias("p"),
        ),
    )
    marker = F.array(
        F.struct(
            F.lit(-1).cast("int").alias("aa"),
            F.lit(-1).cast("int").alias("bb"),
            F.lit(1.0).alias("p"),
        )
    )
    # A NULL embedding carries no geometry (concat propagates the NULL)
    # but still counts toward n — exactly the split-pass semantics, where
    # posexplode dropped it and count(*) did not.
    cells = F.coalesce(F.concat(tri, lin, marker), marker)
    head = (
        emb.select(F.explode(cells).alias("c"))
        .groupBy(F.col("c.aa").alias("aa"), F.col("c.bb").alias("bb"))
        .agg(_dsum18(F.col("c.p")).alias("s_ab"))
    )
    return emb, head, pins


def _pca_tail_frames(h: DataFrame):
    """q245/q254's spectral tail over the checkpointed moment head: n,
    mu, the symmetrized covariance C, and the 2-round power iterate v —
    every frame ≤ d² rows, every sum `_dsum18`. Runs inside
    ``bounded_tail``'s posture; the arithmetic is expression-identical
    to the r13 split-pass form, so the values (and the oracle hash) are
    unchanged."""
    n = h.filter((F.col("aa") == -1) & (F.col("bb") == -1)).select(
        F.col("s_ab").cast("bigint").alias("_n")
    )
    mu = (
        h.filter((F.col("bb") == -1) & (F.col("aa") >= 0))
        .select(F.col("aa").alias("a"), F.col("s_ab").alias("_sx"))
        .crossJoin(n)
        .select("a", (F.col("_sx") / F.col("_n").cast("double")).alias("mu"))
    )
    s_up = h.filter((F.col("aa") >= 0) & (F.col("bb") >= 0)).select(
        "aa", "bb", "s_ab"
    )
    s = s_up.unionByName(
        s_up.filter(F.col("aa") != F.col("bb")).select(
            F.col("bb").alias("aa"), F.col("aa").alias("bb"), "s_ab"
        )
    )
    c = (
        s.crossJoin(n)
        .join(mu.select(F.col("a").alias("aa"), F.col("mu").alias("mu_a")), "aa")
        .join(mu.select(F.col("a").alias("bb"), F.col("mu").alias("mu_b")), "bb")
        .select(
            "aa", "bb",
            (F.col("s_ab") / F.col("_n").cast("double")
             - F.col("mu_a") * F.col("mu_b")).alias("c_ab"),
        )
        # C feeds every multiply (both power rounds + the Rayleigh legs):
        # cut the lineage once — under the posture this materializes
        # inside the tail's single result-checkpoint job, not as a
        # dedicated job (the components.py lazy-cut rule).
        .localCheckpoint(eager=False)
    )
    # v0 = 1/8 per dim — build as a 64-row frame off the dims of C
    v = c.select(F.col("aa").alias("b")).distinct().select(
        "b", F.lit(0.125).alias("v")
    )
    for _ in range(_PCA_ROUNDS):
        # Per-round lazy cuts (the q263 lineage rule): w feeds BOTH the
        # norm and the normalized v, and v feeds every downstream branch
        # (next round, Rayleigh legs, q254's projection) — left uncut the
        # plan nests ~50 scalar joins per round. Values identical; the
        # cut only pins WHERE the 64 rows are read from.
        w = (
            c.join(v, c["bb"] == v["b"])
            .groupBy("aa")
            .agg(_dsum18(F.col("c_ab") * F.col("v")).alias("w"))
            .localCheckpoint(eager=False)
        )
        nrm = w.agg(F.sqrt(_dsum18(F.col("w") * F.col("w"))).alias("_nrm"))
        # NULLIF: a zero-variance corpus makes C·v the zero vector —
        # loadings NULL identically in both engines, never an ANSI
        # divide-by-zero (review r9)
        v = w.crossJoin(nrm).select(
            F.col("aa").alias("b"),
            (F.col("w") / F.nullif(F.col("_nrm"), F.lit(0.0))).alias("v"),
        ).localCheckpoint(eager=False)
    return {"n": n, "mu": mu, "c": c, "v": v}


def q245_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding covariance via 2 PINNED
    power iterations → (dim, loading, lam): the dominant direction of
    variance and its Rayleigh-quotient eigenvalue. The spectral member
    the compression family was missing — q184 gives per-dim variances
    (the DIAGONAL of C), q106/q101 project onto random/learned bases;
    this finds the data's own axis, the whitening/PCA-pruning primitive.

    EXACTNESS CONTRACT (the q94/q240/q242 pinned-iteration discipline):
    both engines run the IDENTICAL 2 iterations from the IDENTICAL
    start v0 = 1/8 (= 1/√64, exactly representable in binary). Every
    data-dependent sum — the moment matrix S = Σ x xᵀ, the mean, each
    matrix-vector product, each norm — goes through DECIMAL(38,18)
    (order-insensitive, engine-exact); per-row double arithmetic is
    IEEE-identical, √ is correctly rounded. No transcendentals.

    Shape (r14): ONE corpus pass — the moment cells are built IN-ARRAY
    per row (each vector expands to its d·(d+1)/2 = 2 080 upper-triangle
    products, its d linear cells, and a count marker inside one narrow
    transform; NO self-join: the first implementation joined the
    posexploded frame to itself on vec_id and the join fan-out, n·d²
    rows through a shuffle, was 94% of the 10×-audit wall), then one
    explode + (aa, bb) groupBy whose partial sums combine map-side, so
    the shuffle carries parts·(d²/2 + d + 1) rows. The r13 form paid the
    mean pass and the count scan as SEPARATE corpus stages. Everything
    after — C (mirrored from the 2 080 aggregated cells), both power
    rounds, the Rayleigh legs — runs on d²-bounded frames under the
    ``bounded_tail`` posture, the scalars attached by 1-row broadcast
    nested-loop joins (``crossJoin``). At 100 TB the
    only corpus-sized stage is the in-array expansion — the standard
    distributed Gram computation.
    """
    from ..execution import bounded_tail

    emb, head, pins = _pca_moment_frames(spark, sf_dir, persist_emb=False)

    def _build(h):
        f = _pca_tail_frames(h)
        c, v = f["c"], f["v"]
        # Rayleigh quotient λ = v₂ᵀ C v₂ (‖v₂‖ = 1 by construction)
        w3 = (
            c.join(v, c["bb"] == v["b"])
            .groupBy("aa")
            .agg(_dsum18(F.col("c_ab") * F.col("v")).alias("w3"))
        )
        lam = (
            w3.join(v, w3["aa"] == v["b"])
            .agg(_dsum18(F.col("w3") * F.col("v")).alias("_lam"))
        )
        res = v.crossJoin(lam).select(
            F.col("b").cast("bigint").alias("dim"),
            F.round(F.col("v"), 6).alias("loading"),
            F.round(F.col("_lam"), 6).alias("lam"),
        )
        return res, []

    return bounded_tail(spark, head, _build, head_pins=pins)


#: Shared q245/q254 oracle CTE chain: moments → covariance → 2 power rounds.
_PCA_SQL_CTES = f"""
WITH pos AS MATERIALIZED (
  SELECT vec_id, CAST(i - 1 AS INT) AS a, CAST(embedding[i] AS DOUBLE) AS x
  FROM (SELECT vec_id, embedding,
               CAST(unnest(range(1, len(embedding) + 1)) AS INT) AS i
        FROM embeddings)
),
n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
s AS MATERIALIZED (
  SELECT p.a AS aa, q.a AS bb, {_sql_dsum18('p.x * q.x')} AS s_ab
  FROM pos p JOIN pos q USING (vec_id) GROUP BY p.a, q.a
),
mu AS MATERIALIZED (
  SELECT a, {_sql_dsum18('x')} / CAST(n.n AS DOUBLE) AS mu
  FROM pos, n GROUP BY a, n.n
),
c AS MATERIALIZED (
  SELECT s.aa, s.bb,
         s.s_ab / CAST(n.n AS DOUBLE) - ma.mu * mb.mu AS c_ab
  FROM s
  JOIN mu ma ON s.aa = ma.a
  JOIN mu mb ON s.bb = mb.a
  CROSS JOIN n
),
v0 AS (SELECT DISTINCT aa AS b, 0.125 AS v FROM c),
w1 AS MATERIALIZED (
  SELECT c.aa, {_sql_dsum18('c.c_ab * v0.v')} AS w
  FROM c JOIN v0 ON c.bb = v0.b GROUP BY c.aa
),
n1 AS (SELECT sqrt({_sql_dsum18('w * w')}) AS nrm FROM w1),
v1 AS MATERIALIZED (SELECT aa AS b, w / NULLIF(n1.nrm, 0) AS v FROM w1, n1),
w2 AS MATERIALIZED (
  SELECT c.aa, {_sql_dsum18('c.c_ab * v1.v')} AS w
  FROM c JOIN v1 ON c.bb = v1.b GROUP BY c.aa
),
n2 AS (SELECT sqrt({_sql_dsum18('w * w')}) AS nrm FROM w2),
v2 AS MATERIALIZED (SELECT aa AS b, w / NULLIF(n2.nrm, 0) AS v FROM w2, n2)"""


Q245_SQL = f"""{_PCA_SQL_CTES},
w3 AS MATERIALIZED (
  SELECT c.aa, {_sql_dsum18('c.c_ab * v2.v')} AS w3
  FROM c JOIN v2 ON c.bb = v2.b GROUP BY c.aa
),
lam AS (
  SELECT {_sql_dsum18('w3.w3 * v2.v')} AS lam
  FROM w3 JOIN v2 ON w3.aa = v2.b
)
SELECT CAST(v2.b AS BIGINT) AS dim, round(v2.v, 6) AS loading,
       round(lam.lam, 6) AS lam
FROM v2, lam
"""


# --------------------------------------------------------------------------
# q254 — PCA projection scores (q245's component applied as a transform)
# --------------------------------------------------------------------------
_PCA_SCORE_TOPN = 10


def q254_pca_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Project every embedding onto q245's top principal component →
    the 10 most extreme documents by |score|, (vec_id, score). The
    APPLY half of the spectral pair (q245 finds the axis; this uses it):
    the vectors at the extremes of the dominant variance direction are
    the embedding-space outliers a curation pass reviews first, and the
    1-D score is the cheapest whitening/stratification feature.

    Exactness: score_i = Σ_a v_a·(x_ia − μ_a) sums through
    DECIMAL(38,18) per vector (order-insensitive); ranking is
    (|score| DESC, vec_id) — |·| of identical doubles, a total order.

    Shape (r14): the shared single-pass moment head + spectral tail
    (see q245 — the tail, run under the ``bounded_tail`` posture,
    returns the checkpointed 64-row (v, μ) table), then ONE more
    corpus-sized pass: the posexploded frame joins the BROADCAST (v, μ)
    table and aggregates per vec_id — map-side combinable, no window;
    top-10 is a distributed TakeOrdered. Two corpus passes total (the
    r13 form paid the Gram pass, the mean pass, AND the projection
    pass); the vector frame is persisted across its two passes.
    """
    from ..execution import bounded_tail

    emb, head, pins = _pca_moment_frames(spark, sf_dir, persist_emb=True)

    def _build(h):
        f = _pca_tail_frames(h)
        vm = f["v"].join(f["mu"], f["v"]["b"] == f["mu"]["a"]).select(
            F.col("b").alias("a"), "v", "mu"
        )
        return vm, []

    vm = bounded_tail(spark, head, _build)
    pos = emb.select("vec_id", F.posexplode(F.col("vd")).alias("a", "x"))
    scores = (
        pos.join(F.broadcast(vm), "a")
        .groupBy("vec_id")
        .agg(_dsum18(F.col("v") * (F.col("x") - F.col("mu"))).alias("score"))
    )
    res = (
        scores.orderBy(F.abs(F.col("score")).desc(), F.col("vec_id").asc())
        .limit(_PCA_SCORE_TOPN)
        .select("vec_id", F.round("score", 6).alias("score"))
    )
    return materialize_release(res, *pins)


Q254_SQL = f"""{_PCA_SQL_CTES},
vm AS (
  SELECT v2.b AS a, v2.v AS v, mu.mu AS mu
  FROM v2 JOIN mu ON v2.b = mu.a
),
scores AS (
  SELECT pos.vec_id,
         {_sql_dsum18('vm.v * (pos.x - vm.mu)')} AS score
  FROM pos JOIN vm ON pos.a = vm.a GROUP BY pos.vec_id
)
SELECT vec_id, round(score, 6) AS score
FROM scores ORDER BY abs(score) DESC, vec_id ASC LIMIT {_PCA_SCORE_TOPN}
"""


# --------------------------------------------------------------------------
# q285/q286 — clustering-validity indices over the labeled embeddings
# --------------------------------------------------------------------------


def _label_moment_frames(spark: SparkSession, sf_dir: str):
    """Shared core of q285/q286: per-label counts, per-(label, dim)
    centroid means, and the posexploded point frame joined to its
    label's centroid — every sum through DECIMAL(38,18) (`_dsum18`,
    order-insensitive) so the distributed partial-agg order can't
    wiggle the doubles vs the oracle. NULL labels/embeddings excluded
    in BOTH engines."""
    t = load_tables(spark, sf_dir)
    e = (
        t["embeddings"]
        .filter(F.col("label").isNotNull() & F.col("embedding").isNotNull())
        .select(
            "vec_id",
            "label",
            F.transform("embedding", lambda x: x.cast("double")).alias("vd"),
        )
    )
    pos = e.select("vec_id", "label", F.posexplode("vd").alias("dim", "x"))
    per_ld = pos.groupBy("label", "dim").agg(
        _dsum18(F.col("x")).alias("sx"),
        F.count(F.lit(1)).cast("bigint").alias("n_l"),
    )
    mu = per_ld.select(
        "label", "dim", (F.col("sx") / F.col("n_l").cast("double")).alias("mu")
    )
    n_per_label = e.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_l")
    )
    tot = e.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        F.countDistinct("label").cast("bigint").alias("k_labels"),
    )
    # point-to-own-centroid deviations: broadcast the (labels × dims)
    # centroid table onto one corpus-sized pass
    dev = pos.join(F.broadcast(mu), ["label", "dim"]).select(
        "vec_id", "label", (F.col("x") - F.col("mu")).alias("d")
    )
    return {"e": e, "pos": pos, "mu": mu, "n_per_label": n_per_label,
            "tot": tot, "dev": dev}


#: Oracle twin of `_label_moment_frames` — CTEs ending in mu / n_l / tot / dev.
_LABEL_MOMENT_SQL = f"""pos AS MATERIALIZED (
  SELECT vec_id, label, CAST(i - 1 AS INT) AS dim,
         CAST(embedding[i] AS DOUBLE) AS x
  FROM (SELECT vec_id, label, embedding,
               CAST(unnest(range(1, len(embedding) + 1)) AS INT) AS i
        FROM embeddings
        WHERE label IS NOT NULL AND embedding IS NOT NULL)
),
mu AS MATERIALIZED (
  SELECT label, dim,
         {_sql_dsum18('x')} / CAST(count(*) AS DOUBLE) AS mu
  FROM pos GROUP BY label, dim
),
n_l AS (
  SELECT label, CAST(count(DISTINCT vec_id) AS BIGINT) AS n_l
  FROM pos GROUP BY label
),
tot AS (
  SELECT CAST(count(DISTINCT vec_id) AS BIGINT) AS n_vecs,
         CAST(count(DISTINCT label) AS BIGINT) AS k_labels
  FROM pos
),
dev AS MATERIALIZED (
  SELECT pos.vec_id, pos.label, pos.x - mu.mu AS d
  FROM pos JOIN mu ON pos.label = mu.label AND pos.dim = mu.dim
)"""


def q285_calinski_harabasz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calinski-Harabasz (variance-ratio) index of the labeled embedding
    space → one row (n_vecs, k_labels, bss, wss, ch): between-cluster
    scatter over within-cluster scatter, the standard 'are these labels
    real structure?' number — q238 scores cluster PURITY against an
    external quantizer, this scores geometric SEPARATION with no
    reference needed; the go/no-go check before trusting the label
    column for stratification (q232) or per-label centroids (q88).

    EXACTNESS: WSS = Σ‖x − μ_label‖² and BSS = Σ n_l·‖μ_l − μ‖² sum
    every term through DECIMAL(38,18) (`_dsum18`, order-insensitive);
    the global centroid derives from the SAME per-(label, dim) sums
    both engines quantized identically; CH is one fixed-order double
    expression, NULLIF-guarded for k < 2 / N ≤ k / zero within-scatter.

    Shape: one posexplode + (label, dim) groupBy (the only corpus-sized
    stages, map-side combinable), a broadcast centroid join back onto
    the point frame, then (labels × dims)-bounded arithmetic.
    """
    f = _label_moment_frames(spark, sf_dir)
    wss = f["dev"].agg(_dsum18(F.col("d") * F.col("d")).alias("wss"))
    # global centroid per dim from the SAME quantized per-label sums:
    # mu_g = Σ_l n_l·mu_l,dim / N (exactly the pooled mean, because
    # n_l·mu_l reproduces the label's quantized sum)
    glob = (
        f["mu"]
        .join(F.broadcast(f["n_per_label"]), "label")
        .groupBy("dim")
        .agg(
            _dsum18(F.col("mu") * F.col("n_l").cast("double")).alias("sxd"),
            F.sum("n_l").cast("bigint").alias("n_tot"),
        )
        .select("dim", (F.col("sxd") / F.col("n_tot").cast("double")).alias("mu_g"))
    )
    bss = (
        f["mu"]
        .join(F.broadcast(glob), "dim")
        .join(F.broadcast(f["n_per_label"]), "label")
        .agg(
            _dsum18(
                F.col("n_l").cast("double")
                * (F.col("mu") - F.col("mu_g"))
                * (F.col("mu") - F.col("mu_g"))
            ).alias("bss")
        )
    )
    j = wss.join(F.broadcast(bss)).join(F.broadcast(f["tot"]))
    nd = F.col("n_vecs").cast("double")
    kd = F.col("k_labels").cast("double")
    ch = (F.col("bss") / F.nullif(kd - 1.0, F.lit(0.0))) / F.nullif(
        F.col("wss") / F.nullif(nd - kd, F.lit(0.0)), F.lit(0.0)
    )
    guard = (F.col("k_labels") > 1) & (F.col("n_vecs") > F.col("k_labels"))
    return j.select(
        "n_vecs",
        "k_labels",
        F.round(F.col("bss"), 9).alias("bss"),
        F.round(F.col("wss"), 9).alias("wss"),
        F.when(guard, F.round(ch, 9)).alias("ch"),
    )


Q285_SQL = f"""
WITH {_LABEL_MOMENT_SQL},
wss AS (SELECT {_sql_dsum18('d * d')} AS wss FROM dev),
gctr AS (
  SELECT mu.dim,
         {_sql_dsum18('mu.mu * CAST(n_l.n_l AS DOUBLE)')}
           / CAST(sum(n_l.n_l) AS DOUBLE) AS mu_g
  FROM mu JOIN n_l ON mu.label = n_l.label
  GROUP BY mu.dim
),
bss AS (
  SELECT {_sql_dsum18(
      'CAST(n_l.n_l AS DOUBLE) * (mu.mu - gctr.mu_g) * (mu.mu - gctr.mu_g)'
  )} AS bss
  FROM mu JOIN gctr ON mu.dim = gctr.dim
  JOIN n_l ON mu.label = n_l.label
)
SELECT tot.n_vecs, tot.k_labels,
       round(bss.bss, 9) AS bss, round(wss.wss, 9) AS wss,
       CASE WHEN tot.k_labels > 1 AND tot.n_vecs > tot.k_labels THEN
         round((bss.bss / NULLIF(CAST(tot.k_labels AS DOUBLE) - 1.0, 0.0))
               / NULLIF(wss.wss / NULLIF(CAST(tot.n_vecs AS DOUBLE)
                                         - CAST(tot.k_labels AS DOUBLE), 0.0),
                        0.0), 9) END AS ch
FROM wss CROSS JOIN bss CROSS JOIN tot
"""


def q286_davies_bouldin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Davies-Bouldin index, per-label detail → one row per label
    (label, n_vecs, scatter, d_i, db_index): scatter S_i = mean
    point-to-centroid distance, D_i = max over other labels of
    (S_i + S_j)/‖μ_i − μ_j‖ (the label's worst separation ratio — WHICH
    neighbor smears it), db_index = the k-mean of D_i repeated on every
    row. CH (q285) answers 'is there structure overall?'; DB's per-label
    D_i is the triage list — the labels a curation pass merges or
    re-embeds first.

    EXACTNESS: per-point distances are √ of a per-vector
    DECIMAL(38,18)-quantized square sum (correctly-rounded √ of
    identical doubles); S_i sums those distances through `_dsum18` and
    divides once; centroid-pair distances run on the (labels² × dims)
    frame the same way; max is order-safe and the final k-term mean
    quantizes through `_dsum18`. NULLIF guards coincident centroids
    (R_ij undefined → NULL, max skips it) and k < 2.

    Shape: the q285 core + one per-vector groupBy (corpus-sized,
    map-side combinable) and labels²-bounded pair arithmetic.
    """
    f = _label_moment_frames(spark, sf_dir)
    per_vec = (
        f["dev"]
        .groupBy("vec_id", "label")
        .agg(F.sqrt(_dsum18(F.col("d") * F.col("d"))).alias("dist"))
    )
    s = (
        per_vec.groupBy("label")
        .agg(
            _dsum18(F.col("dist")).alias("sdist"),
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        )
        .select(
            "label",
            "n_vecs",
            (F.col("sdist") / F.col("n_vecs").cast("double")).alias("s_i"),
        )
    )
    mu_i = f["mu"].select(
        F.col("label").alias("li"), "dim", F.col("mu").alias("mi")
    )
    mu_j = f["mu"].select(
        F.col("label").alias("lj"), "dim", F.col("mu").alias("mj")
    )
    m = (
        mu_i.join(mu_j, "dim")
        .filter(F.col("li") != F.col("lj"))
        .groupBy("li", "lj")
        .agg(
            F.sqrt(
                _dsum18((F.col("mi") - F.col("mj")) * (F.col("mi") - F.col("mj")))
            ).alias("m_ij")
        )
    )
    r = (
        m.join(F.broadcast(s.select(F.col("label").alias("li"), F.col("s_i"))), "li")
        .join(
            F.broadcast(
                s.select(F.col("label").alias("lj"), F.col("s_i").alias("s_j"))
            ),
            "lj",
        )
        .groupBy("li")
        .agg(
            F.max(
                (F.col("s_i") + F.col("s_j"))
                / F.nullif(F.col("m_ij"), F.lit(0.0))
            ).alias("d_i")
        )
    )
    db = r.agg(
        (
            _dsum18(F.col("d_i")) / F.count(F.lit(1)).cast("double")
        ).alias("db_index")
    )
    return (
        s.join(r, s["label"] == r["li"], "left")
        .join(F.broadcast(db))
        .select(
            "label",
            "n_vecs",
            F.round(F.col("s_i"), 9).alias("scatter"),
            F.round(F.col("d_i"), 9).alias("d_i"),
            F.round(F.col("db_index"), 9).alias("db_index"),
        )
        .orderBy("label")
    )


Q286_SQL = f"""
WITH {_LABEL_MOMENT_SQL},
per_vec AS (
  SELECT vec_id, label, sqrt({_sql_dsum18('d * d')}) AS dist
  FROM dev GROUP BY vec_id, label
),
s AS (
  SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
         {_sql_dsum18('dist')} / CAST(count(*) AS DOUBLE) AS s_i
  FROM per_vec GROUP BY label
),
m AS (
  SELECT a.label AS li, b.label AS lj,
         sqrt({_sql_dsum18('(a.mu - b.mu) * (a.mu - b.mu)')}) AS m_ij
  FROM mu a JOIN mu b ON a.dim = b.dim AND a.label <> b.label
  GROUP BY a.label, b.label
),
r AS (
  SELECT m.li,
         max((si.s_i + sj.s_i) / NULLIF(m.m_ij, 0.0)) AS d_i
  FROM m JOIN s si ON m.li = si.label JOIN s sj ON m.lj = sj.label
  GROUP BY m.li
),
db AS (
  SELECT {_sql_dsum18('d_i')} / CAST(count(*) AS DOUBLE) AS db_index FROM r
)
SELECT s.label, s.n_vecs, round(s.s_i, 9) AS scatter,
       round(r.d_i, 9) AS d_i, round(db.db_index, 9) AS db_index
FROM s LEFT JOIN r ON s.label = r.li CROSS JOIN db
ORDER BY s.label
"""


# --------------------------------------------------------------------------
# q298 — simplified silhouette (per-label cohesion vs nearest other label)
# --------------------------------------------------------------------------


def q298_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified (centroid-based) silhouette of the labeled embedding
    space → (label, n_vecs, mean_sil, overall_sil): per point,
    a = distance to its OWN label centroid, b = distance to the NEAREST
    OTHER centroid, s = (b − a)/max(a, b); rows average s per label.
    Completes the clustering-validity triad — CH (q285) is one global
    variance ratio, DB (q286) scores each label's worst neighbor, the
    silhouette scores each POINT and so catches labels whose MEMBERS
    straddle a boundary even when the centroids look separated. The
    centroid form (Hruschka et al.) rather than mean-pairwise: identical
    ranking power for convex clusters at O(n·k) instead of the O(n²)
    pair grid no 100 TB corpus survives.

    EXACTNESS: d²(i, l) expands to ‖x_i‖² + ‖μ_l‖² − 2·x_i·μ_l with
    each of the three sums DECIMAL(38,18)-quantized (`_dsum18`,
    order-insensitive) and combined in ONE fixed-order double
    expression; a/b are correctly-rounded √ of identical doubles, the
    min over other labels is order-safe, s is one fixed-order
    expression NULLIF-guarded for coincident centroids (max(a,b) = 0)
    and k = 1 (no other label → NULL mean). Label means and the
    overall mean divide `_dsum18` sums by non-null counts.

    Shape: the `_label_moment_frames` core + ONE corpus × k·dims pass
    (pos ⋈ broadcast centroid table on dim, map-side combinable into
    (vec, label) dot products — the kmeans/IVF assignment shape), then
    (n × k)-bounded arithmetic and a labels-bounded reduce.
    """
    f = _label_moment_frames(spark, sf_dir)
    sxx = f["pos"].groupBy("vec_id", "label").agg(
        _dsum18(F.col("x") * F.col("x")).alias("sxx")
    )
    smu2 = f["mu"].groupBy("label").agg(
        _dsum18(F.col("mu") * F.col("mu")).alias("smu2")
    )
    mu_all = f["mu"].select(
        F.col("label").alias("l2"), "dim", F.col("mu").alias("m2")
    )
    dot = (
        f["pos"]
        .join(F.broadcast(mu_all), "dim")
        .groupBy("vec_id", "label", "l2")
        .agg(_dsum18(F.col("x") * F.col("m2")).alias("dot"))
    )
    d2 = (
        dot.join(
            F.broadcast(smu2.select(F.col("label").alias("l2"), "smu2")), "l2"
        )
        .join(sxx, ["vec_id", "label"])
        .select(
            "vec_id",
            "label",
            "l2",
            (
                F.col("sxx") + F.col("smu2") - F.lit(2.0) * F.col("dot")
            ).alias("d2"),
        )
    )
    per_point = d2.groupBy("vec_id", "label").agg(
        F.sqrt(
            F.max(F.when(F.col("l2") == F.col("label"), F.col("d2")))
        ).alias("a"),
        F.sqrt(
            F.min(F.when(F.col("l2") != F.col("label"), F.col("d2")))
        ).alias("b"),
    )
    sil = per_point.select(
        "label",
        (
            (F.col("b") - F.col("a"))
            / F.nullif(F.greatest(F.col("a"), F.col("b")), F.lit(0.0))
        ).alias("s"),
    )
    per_label = sil.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        (_dsum18(F.col("s")) / F.count(F.col("s")).cast("double")).alias(
            "mean_sil"
        ),
    )
    overall = sil.agg(
        (_dsum18(F.col("s")) / F.count(F.col("s")).cast("double")).alias(
            "overall_sil"
        )
    )
    return (
        per_label.join(F.broadcast(overall))
        .select(
            "label",
            "n_vecs",
            F.round(F.col("mean_sil"), 9).alias("mean_sil"),
            F.round(F.col("overall_sil"), 9).alias("overall_sil"),
        )
        .orderBy("label")
    )


Q298_SQL = f"""
WITH {_LABEL_MOMENT_SQL},
sxx AS (
  SELECT vec_id, label, {_sql_dsum18('x * x')} AS sxx
  FROM pos GROUP BY vec_id, label
),
smu2 AS (
  SELECT label, {_sql_dsum18('mu * mu')} AS smu2 FROM mu GROUP BY label
),
dot AS (
  SELECT pos.vec_id, pos.label, mu.label AS l2,
         {_sql_dsum18('pos.x * mu.mu')} AS dot
  FROM pos JOIN mu ON pos.dim = mu.dim
  GROUP BY pos.vec_id, pos.label, mu.label
),
d2 AS (
  SELECT dot.vec_id, dot.label, dot.l2,
         sxx.sxx + smu2.smu2 - 2.0 * dot.dot AS d2
  FROM dot JOIN smu2 ON dot.l2 = smu2.label
  JOIN sxx ON dot.vec_id = sxx.vec_id AND dot.label = sxx.label
),
per_point AS (
  SELECT vec_id, label,
         sqrt(max(CASE WHEN l2 = label THEN d2 END)) AS a,
         sqrt(min(CASE WHEN l2 <> label THEN d2 END)) AS b
  FROM d2 GROUP BY vec_id, label
),
sil AS (
  SELECT label, (b - a) / NULLIF(greatest(a, b), 0.0) AS s
  FROM per_point
),
per_label AS (
  SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
         {_sql_dsum18('s')} / CAST(count(s) AS DOUBLE) AS mean_sil
  FROM sil GROUP BY label
),
overall AS (
  SELECT {_sql_dsum18('s')} / CAST(count(s) AS DOUBLE) AS overall_sil
  FROM sil
)
SELECT label, n_vecs, round(mean_sil, 9) AS mean_sil,
       round(overall.overall_sil, 9) AS overall_sil
FROM per_label CROSS JOIN overall
ORDER BY label
"""


# --------------------------------------------------------------------------
# q301 — token-budget curriculum phases (easy-to-hard ordering)
# --------------------------------------------------------------------------

#: Number of curriculum phases q301 buckets the corpus into.
_CURRICULUM_PHASES = 4


def q301_curriculum_phases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget curriculum plan → (phase, n_docs, tokens_total,
    min_toks, max_toks): order documents easy-to-hard (ascending token
    count — the standard length-as-difficulty proxy of curriculum
    learning) and cut the ordered stream into 4 phases of equal TOKEN
    budget (⌈total/4⌉), so each training phase consumes the same
    compute, not the same document count — short-doc phases hold many
    more documents. The ordering complement of q117 (epoch
    up-sampling reweights; this sequences) and q77 (shards balance
    size with no order semantics).

    EXACTNESS: all-integer — token counts, the dist_cumsum prefix, the
    broadcast ⌈total/4⌉ budget, and phase = least(3, cum_before DIV
    budget) (integer division, no doubles anywhere).

    Shape: one tokenize pass (the only corpus-sized stage), one
    dist_cumsum range shuffle over the (n_toks, doc_id) total order,
    one 1-row budget broadcast, a 4-row aggregation.
    """
    from .common import dist_cumsum

    t = load_tables(spark, sf_dir)
    d = t["documents"].select(
        "doc_id",
        F.size(tokenize(F.col("text"))).cast("bigint").alias("n_toks"),
    )
    cum, pin = dist_cumsum(d, ["n_toks", "doc_id"], ["n_toks"])
    budget = d.agg(
        F.ceil(
            F.sum("n_toks").cast("decimal(38,0)") / _CURRICULUM_PHASES
        )
        .cast("bigint")
        .alias("budget")
    )
    phased = cum.join(F.broadcast(budget)).select(
        "doc_id",
        "n_toks",
        F.least(
            F.lit(_CURRICULUM_PHASES - 1),
            F.floor(
                (F.col("n_toks_cum") - F.col("n_toks"))
                / F.nullif(F.col("budget"), F.lit(0))
            ),
        )
        .cast("int")
        .alias("phase"),
    )
    res = (
        phased.groupBy("phase")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_toks").cast("bigint").alias("tokens_total"),
            F.min("n_toks").alias("min_toks"),
            F.max("n_toks").alias("max_toks"),
        )
        .orderBy("phase")
    )
    return materialize_release(res, pin)


Q301_SQL = r"""
WITH d AS (
  SELECT doc_id,
         CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS BIGINT)
           AS n_toks
  FROM documents
), cum AS (
  SELECT doc_id, n_toks,
         SUM(n_toks) OVER (ORDER BY n_toks, doc_id
                           ROWS UNBOUNDED PRECEDING) AS c
  FROM d
), budget AS (
  SELECT CAST(ceil(CAST(sum(n_toks) AS DECIMAL(38,0)) / 4) AS BIGINT) AS b
  FROM d
)
SELECT CAST(least(3, (c - n_toks) // NULLIF(b, 0)) AS INT) AS phase,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_toks) AS BIGINT) AS tokens_total,
       min(n_toks) AS min_toks, max(n_toks) AS max_toks
FROM cum CROSS JOIN budget
GROUP BY 1
ORDER BY phase
"""


# --------------------------------------------------------------------------
# q304 — Fleiss' kappa (three deterministic quality raters)
# --------------------------------------------------------------------------


def q304_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa across three deterministic document 'raters' →
    one row (n_docs, c0, c1, c2, p_bar, p_e, kappa): the MULTI-rater
    generalization q284's Cohen kappa can't give (Cohen is exactly two
    raters) — the agreement audit a labeling pipeline runs when
    several heuristic annotators vote. Raters here are three pinned
    integer heuristics binning each document LOW/MED/HIGH: character
    length (< 220 / < 390 / else), whitespace-token count (< 40 /
    < 70 / else), and distinct-token ratio (3·distinct ≤ n / ≤ 2n /
    else — cross-multiplied, no division). κ = (P̄ − P_e)/(1 − P_e)
    with the standard Fleiss cell algebra for n = 3 raters.

    EXACTNESS: PURE INTEGER to the end — with S = Σ_i Σ_j n_ij² and
    C_j the per-category totals, κ = (3N(S − 3N) − 2ΣC_j²) /
    (2(9N² − ΣC_j²)) exactly (common-denominator algebra), one double
    division; P̄ = (S − 3N)/(6N) and P_e = ΣC_j²/(9N²) likewise.
    NULLIF guards the all-rater-one-category degenerate (P_e = 1).

    Shape: one tokenize pass (the only corpus-sized stage; the three
    raters are Column expressions over it), a 1-row integer
    aggregation.
    """
    t = load_tables(spark, sf_dir)
    toks = tokenize(F.col("text"))
    nt = F.size(toks).cast("bigint")
    nd = F.size(F.array_distinct(toks)).cast("bigint")
    r1 = (
        F.when(F.col("n_chars") < 220, 0)
        .when(F.col("n_chars") < 390, 1)
        .otherwise(2)
    )
    r2 = F.when(nt < 40, 0).when(nt < 70, 1).otherwise(2)
    r3 = (
        F.when(3 * nd <= nt, 0)
        .when(3 * nd <= 2 * nt, 1)
        .otherwise(2)
    )
    per_doc = t["documents"].select(
        r1.alias("r1"), r2.alias("r2"), r3.alias("r3")
    )
    nij = [
        sum(
            F.when(F.col(r) == j, 1).otherwise(0)
            for r in ("r1", "r2", "r3")
        )
        for j in range(3)
    ]
    cells = per_doc.select(
        *[c.cast("bigint").alias(f"n{j}") for j, c in enumerate(nij)]
    )
    dec = "decimal(38,0)"
    dec12 = "decimal(12,0)"
    agg = cells.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        *[F.sum(f"n{j}").cast("bigint").alias(f"c{j}") for j in range(3)],
        F.sum(
            sum(
                F.col(f"n{j}").cast(dec12) * F.col(f"n{j}").cast(dec12)
                for j in range(3)
            )
        )
        .cast(dec)
        .alias("s"),
    )
    n = F.col("n_docs").cast(dec)
    sc2 = sum(
        F.col(f"c{j}").cast(dec) * F.col(f"c{j}").cast(dec) for j in range(3)
    )
    p_bar = (F.col("s") - 3 * n).cast("double") / F.nullif(
        (6 * n).cast("double"), F.lit(0.0)
    )
    p_e = sc2.cast(dec).cast("double") / F.nullif(
        (9 * n * n).cast(dec).cast("double"), F.lit(0.0)
    )
    kappa = (3 * n * (F.col("s") - 3 * n) - 2 * sc2).cast(dec).cast(
        "double"
    ) / F.nullif(
        (2 * (9 * n * n - sc2)).cast(dec).cast("double"), F.lit(0.0)
    )
    return agg.select(
        "n_docs",
        "c0",
        "c1",
        "c2",
        F.round(p_bar, 9).alias("p_bar"),
        F.round(p_e, 9).alias("p_e"),
        F.round(kappa, 9).alias("kappa"),
    )


Q304_SQL = r"""
WITH per_doc AS (
  SELECT
    CASE WHEN n_chars < 220 THEN 0 WHEN n_chars < 390 THEN 1 ELSE 2 END AS r1,
    CASE WHEN len(regexp_split_to_array(trim(lower(text)), '\s+')) < 40 THEN 0
         WHEN len(regexp_split_to_array(trim(lower(text)), '\s+')) < 70 THEN 1
         ELSE 2 END AS r2,
    CASE WHEN 3 * len(list_distinct(regexp_split_to_array(trim(lower(text)), '\s+')))
              <= len(regexp_split_to_array(trim(lower(text)), '\s+')) THEN 0
         WHEN 3 * len(list_distinct(regexp_split_to_array(trim(lower(text)), '\s+')))
              <= 2 * len(regexp_split_to_array(trim(lower(text)), '\s+')) THEN 1
         ELSE 2 END AS r3
  FROM documents
), cells AS (
  SELECT
    CAST((CASE WHEN r1=0 THEN 1 ELSE 0 END) + (CASE WHEN r2=0 THEN 1 ELSE 0 END)
         + (CASE WHEN r3=0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
    CAST((CASE WHEN r1=1 THEN 1 ELSE 0 END) + (CASE WHEN r2=1 THEN 1 ELSE 0 END)
         + (CASE WHEN r3=1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
    CAST((CASE WHEN r1=2 THEN 1 ELSE 0 END) + (CASE WHEN r2=2 THEN 1 ELSE 0 END)
         + (CASE WHEN r3=2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
  FROM per_doc
), agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n0) AS BIGINT) AS c0,
         CAST(sum(n1) AS BIGINT) AS c1,
         CAST(sum(n2) AS BIGINT) AS c2,
         CAST(sum(CAST(n0 AS DECIMAL(12,0)) * n0 + CAST(n1 AS DECIMAL(12,0)) * n1
                  + CAST(n2 AS DECIMAL(12,0)) * n2) AS DECIMAL(38,0)) AS s
  FROM cells
)
SELECT n_docs, c0, c1, c2,
  round(CAST(CAST(s - 3 * CAST(n_docs AS DECIMAL(38,0)) AS DECIMAL(38,0)) AS DOUBLE)
        / NULLIF(CAST(CAST(6 * CAST(n_docs AS DECIMAL(38,0)) AS DECIMAL(38,0)) AS DOUBLE), 0.0), 9) AS p_bar,
  round(CAST(CAST(CAST(c0 AS DECIMAL(38,0)) * c0 + CAST(c1 AS DECIMAL(38,0)) * c1
                  + CAST(c2 AS DECIMAL(38,0)) * c2 AS DECIMAL(38,0)) AS DOUBLE)
        / NULLIF(CAST(CAST(9 * CAST(n_docs AS DECIMAL(38,0)) * n_docs AS DECIMAL(38,0)) AS DOUBLE), 0.0), 9) AS p_e,
  round(CAST(CAST(3 * CAST(n_docs AS DECIMAL(38,0)) * (s - 3 * CAST(n_docs AS DECIMAL(38,0)))
                  - 2 * (CAST(c0 AS DECIMAL(38,0)) * c0 + CAST(c1 AS DECIMAL(38,0)) * c1
                         + CAST(c2 AS DECIMAL(38,0)) * c2) AS DECIMAL(38,0)) AS DOUBLE)
        / NULLIF(CAST(CAST(2 * (9 * CAST(n_docs AS DECIMAL(38,0)) * n_docs
                                - (CAST(c0 AS DECIMAL(38,0)) * c0 + CAST(c1 AS DECIMAL(38,0)) * c1
                                   + CAST(c2 AS DECIMAL(38,0)) * c2)) AS DECIMAL(38,0)) AS DOUBLE), 0.0), 9) AS kappa
FROM agg
"""


# --------------------------------------------------------------------------
# q308 — quality-score AUC against the exact-duplicate label
# --------------------------------------------------------------------------


def q308_score_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-bias audit of the quality filter: ROC AUC of q25's
    quality score as a detector of ENGLISH documents → one row (n_en,
    n_other, u2, auc, gini). Quality composites built on English
    stopword lists are known to encode language, not quality — the
    Gopher-era filtering-bias finding — and this is the single
    threshold-free number that measures it: AUC ≈ 0.5 means the
    filter is language-neutral, ≫ 0.5 means 'quality' is largely
    'English'. Computed exactly via the rank identity AUC = U/(n₁n₀)
    (ties half) — q266's Mann-Whitney machinery pointed at an ML
    evaluation; gini = 2·AUC − 1. q144's lang-ID margin says WHAT
    language a doc is; this says how much the quality gate cares.
    (An exact-duplicate label would be the other natural target, but
    the gate corpora have no exact dups — a q240-vacuity trap — while
    the lang label splits every SF.)

    EXACTNESS: scores are q25's fixed-order IEEE expression —
    identical doubles — grouped exactly; DOUBLED midranks via
    `dist_cumsum` keep every rank quantity integer (u2 = 2U in
    DECIMAL(38,0), emitted as a string); AUC is one double division.
    NULLIF-guarded one-class degenerates; NULL lang excluded in both
    engines.

    Shape: one scan computing (lang, score) (the only corpus-sized
    stage), a distinct-score groupBy + dist_cumsum, 1-row arithmetic.
    """
    from .common import doubled_midranks

    t = load_tables(spark, sf_dir)
    d = t["documents"].filter(F.col("lang").isNotNull()).select(
        "lang", "text", tokenize(F.col("text")).alias("toks")
    )
    feats = quality_features(F.col("text"), F.col("toks"))
    lab = d.select(
        (F.col("lang") == "en").alias("is_en"),
        feats["quality_score"].alias("v"),
    )
    tv = lab.groupBy("is_en", "v").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tv")
    )
    per_v = tv.groupBy("v").agg(F.sum("n_tv").cast("bigint").alias("n_v"))
    w2, pin = doubled_midranks(per_v, "v")
    dec19 = "decimal(19,0)"
    per_g = (
        tv.filter(F.col("is_en"))
        .join(w2, "v")
        .agg(
            F.sum("n_tv").cast("bigint").alias("n_en"),
            F.sum(F.col("n_tv").cast(dec19) * F.col("w2"))
            .cast("decimal(38,0)")
            .alias("r2_en"),
        )
    )
    tot = per_v.agg(F.sum("n_v").cast("bigint").alias("n_all"))
    j = per_g.join(F.broadcast(tot))
    n1 = F.col("n_en").cast(dec19)
    n0 = (F.col("n_all") - F.col("n_en")).cast(dec19)
    u2 = (F.col("r2_en") - n1 * (n1 + 1)).cast("decimal(38,0)")
    auc = u2.cast("double") / F.nullif(
        (F.lit(2).cast(dec19) * n1 * n0).cast("decimal(38,0)").cast("double"),
        F.lit(0.0),
    )
    res = j.select(
        "n_en",
        (F.col("n_all") - F.col("n_en")).cast("bigint").alias("n_other"),
        u2.cast("string").alias("u2"),
        F.round(auc, 9).alias("auc"),
        F.round(F.lit(2.0) * auc - F.lit(1.0), 9).alias("gini"),
    )
    return materialize_release(res, pin)


Q308_SQL = f"""
WITH q AS ({Q25_SQL}), lab AS (
  SELECT d.lang = 'en' AS is_en, q.quality_score AS v
  FROM documents d JOIN q ON d.doc_id = q.doc_id
  WHERE d.lang IS NOT NULL
), tv AS (
  SELECT is_en, v, CAST(count(*) AS BIGINT) AS n_tv FROM lab GROUP BY 1, 2
), per_v AS (
  SELECT v, CAST(sum(n_tv) AS BIGINT) AS n_v FROM tv GROUP BY v
), cum AS (
  SELECT v, n_v, sum(n_v) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS c
  FROM per_v
), w2 AS (
  SELECT v, CAST(2 * (c - n_v) + n_v + 1 AS DECIMAL(19,0)) AS w2 FROM cum
), per_g AS (
  SELECT CAST(sum(tv.n_tv) AS BIGINT) AS n_en,
         CAST(sum(CAST(tv.n_tv AS DECIMAL(19,0)) * w2.w2) AS DECIMAL(38,0))
           AS r2_en
  FROM tv JOIN w2 ON tv.v = w2.v WHERE tv.is_en
), tot AS (SELECT CAST(sum(n_v) AS BIGINT) AS n_all FROM per_v),
fin AS (
  SELECT n_en, n_all,
         CAST(r2_en - CAST(n_en AS DECIMAL(19,0))
              * (CAST(n_en AS DECIMAL(19,0)) + 1) AS DECIMAL(38,0)) AS u2
  FROM per_g CROSS JOIN tot
)
SELECT n_en, CAST(n_all - n_en AS BIGINT) AS n_other,
       CAST(u2 AS VARCHAR) AS u2,
       round(CAST(u2 AS DOUBLE)
             / NULLIF(CAST(CAST(CAST(2 AS DECIMAL(19,0))
                                * CAST(n_en AS DECIMAL(19,0))
                                * CAST(n_all - n_en AS DECIMAL(19,0))
                           AS DECIMAL(38,0)) AS DOUBLE), 0.0), 9) AS auc,
       round(2.0 * (CAST(u2 AS DOUBLE)
             / NULLIF(CAST(CAST(CAST(2 AS DECIMAL(19,0))
                                * CAST(n_en AS DECIMAL(19,0))
                                * CAST(n_all - n_en AS DECIMAL(19,0))
                           AS DECIMAL(38,0)) AS DOUBLE), 0.0)) - 1.0, 9)
         AS gini
FROM fin
"""


# --------------------------------------------------------------------------
# q309 — Brier score + calibration bins (quality score as P(unique))
# --------------------------------------------------------------------------


def q309_brier_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score and 10-bin calibration table for q25's quality
    score read as a probability that a document is ENGLISH → (bin, n,
    mean_p, frac_en, brier): the PROPER-scoring-rule companion to
    q308's language-bias AUC — AUC only ranks, the Brier score
    punishes miscalibrated confidence, and the per-bin
    (mean_p − frac_en) gap is the reliability diagram of the bias
    (q225 draws the accuracy analogue). brier = Σ(p − y)²/N repeated
    on every row.

    EXACTNESS: p quantizes ONCE to DECIMAL(12,6) (the q300 lesson —
    raw-double scale-18 quantization is engine-divergent), so
    (p − y)² is an EXACT decimal product summed exactly; per-bin
    mean_p is an exact decimal-sum ratio; frac_unique an integer
    ratio; bin = floor of the identical quantized decimal ×10,
    clamped. One double division each at the very end.

    Shape: one scan + digest groupBy (the corpus-sized stages), a
    10-row bin aggregation, one 1-row broadcast of the total.
    """
    t = load_tables(spark, sf_dir)
    d = t["documents"].filter(F.col("lang").isNotNull()).select(
        "lang", "text", tokenize(F.col("text")).alias("toks")
    )
    feats = quality_features(F.col("text"), F.col("toks"))
    p6 = feats["quality_score"].cast("decimal(12,6)")
    lab = d.select(
        p6.alias("p6"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    binned = lab.select(
        F.least(F.lit(9), F.floor(F.col("p6") * 10).cast("int")).alias("bin"),
        "p6",
        "y",
        ((F.col("p6") - F.col("y")) * (F.col("p6") - F.col("y")))
        .cast("decimal(25,12)")
        .alias("sq"),
    )
    per_bin = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("p6").cast("decimal(38,6)").alias("sp"),
        F.sum("y").cast("bigint").alias("ny"),
        F.sum("sq").cast("decimal(38,12)").alias("ssq"),
    )
    tot = per_bin.agg(
        F.sum("n").cast("bigint").alias("n_all"),
        F.sum(F.col("ssq")).cast("decimal(38,12)").alias("ssq_all"),
    )
    return (
        per_bin.join(F.broadcast(tot))
        .select(
            "bin",
            "n",
            F.round(
                F.col("sp").cast("double") / F.col("n").cast("double"), 9
            ).alias("mean_p"),
            F.round(
                F.col("ny").cast("double") / F.col("n").cast("double"), 9
            ).alias("frac_en"),
            F.round(
                F.col("ssq_all").cast("double") / F.col("n_all").cast("double"),
                9,
            ).alias("brier"),
        )
        .orderBy("bin")
    )


Q309_SQL = f"""
WITH q AS ({Q25_SQL}), lab AS (
  SELECT CAST(q.quality_score AS DECIMAL(12,6)) AS p6,
         CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
  FROM documents d JOIN q ON d.doc_id = q.doc_id
  WHERE d.lang IS NOT NULL
), binned AS (
  SELECT CAST(least(9, floor(p6 * 10)) AS INT) AS bin, p6, y,
         CAST((p6 - y) * (p6 - y) AS DECIMAL(25,12)) AS sq
  FROM lab
), per_bin AS (
  SELECT bin, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(p6) AS DECIMAL(38,6)) AS sp,
         CAST(sum(y) AS BIGINT) AS ny,
         CAST(sum(sq) AS DECIMAL(38,12)) AS ssq
  FROM binned GROUP BY bin
), tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS n_all,
         CAST(sum(ssq) AS DECIMAL(38,12)) AS ssq_all
  FROM per_bin
)
SELECT bin, n,
       round(CAST(sp AS DOUBLE) / CAST(n AS DOUBLE), 9) AS mean_p,
       round(CAST(ny AS DOUBLE) / CAST(n AS DOUBLE), 9) AS frac_en,
       round(CAST(ssq_all AS DOUBLE) / CAST(n_all AS DOUBLE), 9) AS brier
FROM per_bin CROSS JOIN tot
ORDER BY bin
"""


# --------------------------------------------------------------------------
# q287 — temperature-scaled mixture sweep (α ∈ {1, 1/2, 1/4})
# --------------------------------------------------------------------------

#: Temperature exponents swept by q287. DYADIC ON PURPOSE: n^1 = n,
#: n^(1/2) = √n, n^(1/4) = √√n — each a correctly-rounded IEEE sqrt,
#: bit-identical cross-engine, where a general pow() is not portable.
_TEMP_ALPHAS = (1.0, 0.5, 0.25)


def q287_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled sampling weights per source, swept over
    α ∈ {1, 1/2, 1/4} → (alpha, source, n_tokens, weight, boost):
    w_s ∝ n_s^α — the published multilingual/multi-source sampling
    smoother (α = 1 is proportional, lower α up-samples small sources;
    XLM-R shipped α = 0.3-class values, and ¼/½ are the dyadic
    bracket). ``boost`` = weight/(n_s/N) is the effective up-sampling
    factor vs proportional — the number that says how many extra
    epochs a small source will see (read against q117's epoch
    up-sampler and q200's budget, which pins α = 1/2). This is the
    DESIGN view: one table to pick the temperature from before q200
    apportions it.

    EXACTNESS: token counts are exact integers; n^α is zero, one, or
    two correctly-rounded sqrts (no pow, no exp/log — the pinned-dyadic
    discipline); each α's normalizer sums the |sources|-bounded terms
    through DECIMAL(38,18) (`_dsum18`, order-insensitive — q200's
    normalizer discipline at finer quantum); weight and boost are
    fixed-order double expressions, NULLIF-guarded for an empty corpus.

    Shape: ONE tokenize+groupBy(source) pass (corpus-sized, map-side
    combinable) shared by all three α's via a 3-row explode; totals are
    |sources|-bounded broadcasts.
    """
    t = load_tables(spark, sf_dir)
    per = (
        t["documents"]
        .filter(F.col("source").isNotNull())
        .select(
            "source",
            F.size(tokenize(F.col("text"))).cast("bigint").alias("n_toks"),
        )
        .groupBy("source")
        .agg(F.sum("n_toks").cast("bigint").alias("n_tokens"))
    )
    nd = F.col("n_tokens").cast("double")
    sweep = per.select(
        "source",
        "n_tokens",
        F.explode(
            F.array(
                F.struct(F.lit(1.0).alias("alpha"), nd.alias("w_raw")),
                F.struct(F.lit(0.5).alias("alpha"), F.sqrt(nd).alias("w_raw")),
                F.struct(
                    F.lit(0.25).alias("alpha"), F.sqrt(F.sqrt(nd)).alias("w_raw")
                ),
            )
        ).alias("s"),
    ).select("source", "n_tokens", F.col("s.alpha").alias("alpha"), F.col("s.w_raw").alias("w_raw"))
    totals = sweep.groupBy("alpha").agg(_dsum18(F.col("w_raw")).alias("w_total"))
    n_total = per.agg(F.sum("n_tokens").cast("bigint").alias("n_total"))
    w = F.col("w_raw") / F.nullif(F.col("w_total"), F.lit(0.0))
    boost = w * F.col("n_total").cast("double") / F.nullif(
        F.col("n_tokens"), F.lit(0)
    ).cast("double")
    return (
        sweep.join(F.broadcast(totals), "alpha")
        .join(F.broadcast(n_total))
        .select(
            "alpha",
            "source",
            "n_tokens",
            F.round(w, 9).alias("weight"),
            F.round(boost, 9).alias("boost"),
        )
        .orderBy("alpha", "source")
    )


Q287_SQL = r"""
WITH per AS (
  SELECT source,
         CAST(sum(len(regexp_split_to_array(trim(lower(text)), '\s+')))
              AS BIGINT) AS n_tokens
  FROM documents WHERE source IS NOT NULL GROUP BY source
), sweep AS (
  SELECT source, n_tokens, a.alpha,
         CASE a.alpha
           WHEN 1.0 THEN CAST(n_tokens AS DOUBLE)
           WHEN 0.5 THEN sqrt(CAST(n_tokens AS DOUBLE))
           ELSE sqrt(sqrt(CAST(n_tokens AS DOUBLE)))
         END AS w_raw
  FROM per CROSS JOIN (VALUES (1.0), (0.5), (0.25)) a(alpha)
), totals AS (
  SELECT alpha,
         CAST(SUM(CAST(w_raw AS DECIMAL(38,18))) AS DOUBLE) AS w_total
  FROM sweep GROUP BY alpha
), nt AS (
  SELECT CAST(sum(n_tokens) AS BIGINT) AS n_total FROM per
)
SELECT sweep.alpha, sweep.source, sweep.n_tokens,
       round(sweep.w_raw / NULLIF(totals.w_total, 0.0), 9) AS weight,
       round((sweep.w_raw / NULLIF(totals.w_total, 0.0))
             * CAST(nt.n_total AS DOUBLE)
             / CAST(NULLIF(sweep.n_tokens, 0) AS DOUBLE), 9) AS boost
FROM sweep JOIN totals USING (alpha) CROSS JOIN nt
ORDER BY alpha, source
"""


# --------------------------------------------------------------------------
# q288 — per-dimension robust scaling stats (median / IQR)
# --------------------------------------------------------------------------


def q288_dim_robust_scaling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension robust scaling statistics of the embedding space →
    one row per dim (dim, n_vecs, q1, med, q3, iqr): the
    median/IQR table behind robust whitening — q184 gives per-dim
    VARIANCES, which one heavy-tailed dimension (exactly what q188's
    norm outliers imply exists) can dominate; (x − med)/IQR is the
    scaling that survives it, and this is its parameter table.

    EXACTNESS: type-1 quantiles — the PICKED element at integer rank
    ⌈p·n⌉ under the (x, vec_id) total order (the q43/q236/q260 rank
    discipline: both engines select the identical stored double, no
    interpolation arithmetic at all); rank targets are pure integer
    division ((n+3) DIV 4, (n+1) DIV 2, (3n+3) DIV 4); IQR is one
    subtraction of two picked doubles. NaN excluded and −0.0
    normalized before ranking (the q266 float-portability pins).

    Shape: ranks via `dist_rank` grouped by dim — NEVER a per-dim
    single-partition sort (a plain PARTITION BY dim window puts a
    corpus/64 slice on one task); 64 groups keep the offset table
    broadcast-sized. One posexplode + the range-partitioned rank are
    the only corpus-sized stages.
    """
    from .common import dist_rank

    t = load_tables(spark, sf_dir)
    x = F.col("xr")
    pos = (
        t["embeddings"]
        .filter(F.col("embedding").isNotNull())
        .select(
            "vec_id",
            F.posexplode(
                F.transform("embedding", lambda v: v.cast("double"))
            ).alias("dim", "xr"),
        )
        .filter(~F.isnan(x))
        .select(
            "vec_id", "dim", F.when(x == 0.0, F.lit(0.0)).otherwise(x).alias("x")
        )
    )
    ranked, pin = dist_rank(pos, ["x", "vec_id"], group_cols=["dim"])
    counts = pos.groupBy("dim").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    j = ranked.join(F.broadcast(counts), "dim")
    picks = {
        "q1": "(n + 3) DIV 4",
        "med": "(n + 1) DIV 2",
        "q3": "(3 * n + 3) DIV 4",
    }
    res = (
        j.groupBy("dim")
        .agg(
            F.max("n").alias("n_vecs"),
            *[
                F.max(
                    F.when(F.col("rank") == F.expr(expr), F.col("x"))
                ).alias(name)
                for name, expr in picks.items()
            ],
        )
        .select(
            F.col("dim").cast("int").alias("dim"),
            "n_vecs",
            F.round("q1", 9).alias("q1"),
            F.round("med", 9).alias("med"),
            F.round("q3", 9).alias("q3"),
            F.round(F.col("q3") - F.col("q1"), 9).alias("iqr"),
        )
        .orderBy("dim")
    )
    return materialize_release(res, pin)


Q288_SQL = """
WITH pos0 AS (
  SELECT vec_id, CAST(i - 1 AS INT) AS dim, CAST(embedding[i] AS DOUBLE) AS xr
  FROM (SELECT vec_id, embedding,
               CAST(unnest(range(1, len(embedding) + 1)) AS INT) AS i
        FROM embeddings WHERE embedding IS NOT NULL)
), pos AS (
  SELECT vec_id, dim, CASE WHEN xr = 0 THEN 0.0 ELSE xr END AS x
  FROM pos0 WHERE NOT isnan(xr)
), c AS (
  SELECT dim, CAST(count(*) AS BIGINT) AS n FROM pos GROUP BY dim
), rk AS (
  SELECT dim, x,
         row_number() OVER (PARTITION BY dim ORDER BY x, vec_id) AS r
  FROM pos
)
SELECT rk.dim, max(c.n) AS n_vecs,
       round(max(CASE WHEN r = (c.n + 3) // 4 THEN x END), 9) AS q1,
       round(max(CASE WHEN r = (c.n + 1) // 2 THEN x END), 9) AS med,
       round(max(CASE WHEN r = (3 * c.n + 3) // 4 THEN x END), 9) AS q3,
       round(max(CASE WHEN r = (3 * c.n + 3) // 4 THEN x END)
             - max(CASE WHEN r = (c.n + 3) // 4 THEN x END), 9) AS iqr
FROM rk JOIN c USING (dim)
GROUP BY rk.dim
ORDER BY rk.dim
"""


# --------------------------------------------------------------------------
# q248 — hybrid retrieval: Borda fusion of BM25 and embedding ranks
# --------------------------------------------------------------------------
_FUSION_K = 20
_FUSION_TOPN = 10

# The BM25 leg reuses q104's head verbatim, so the Borda weight
# K+1−rank is only non-negative if the fused K covers every rank that
# head can produce. The constants are independently editable — pin the
# coupling at import time rather than letting a raised _BM25_TOPN
# silently push ranks past _FUSION_K and turn weights negative in both
# engines (ADVICE r9).
if _FUSION_K != _BM25_TOPN:
    raise ValueError(
        f"_FUSION_K ({_FUSION_K}) must equal _BM25_TOPN ({_BM25_TOPN}): "
        "q248's Borda weights assume q104's head size"
    )


def _fusion_rank_legs(spark: SparkSession, sf_dir: str):
    """The two retrieval heads q248/q261 fuse: (bmr, cr) — q104's BM25
    top-20 ranked, and the embedding-cosine top-20 for the pinned query
    vector (smallest vec_id), ranked. Both rank windows run on 20-row
    heads; the cosine side is one O(n·d) broadcast map + TakeOrdered,
    never a pair join. Zero-norm vectors are unrankable under cosine —
    excluded in BOTH engines (the ivf_assign rule; unguarded, Spark's
    ANSI mode throws DIVIDE_BY_ZERO where DuckDB yields NULL)."""
    t = load_tables(spark, sf_dir)
    bm = q104_bm25_topk(spark, sf_dir).select("doc_id", "bm25")
    wb = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
    bmr = bm.select(
        "doc_id", F.row_number().over(wb).cast("bigint").alias("bm25_rank")
    )
    emb = t["embeddings"].select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("vd"),
    )
    emb = emb.withColumn(
        "nrm", F.sqrt(F.aggregate("vd", F.lit(0.0), lambda acc, x: acc + x * x))
    ).filter(F.col("nrm") > 0)
    q = emb.orderBy("vec_id").limit(1).select(
        F.col("vec_id").alias("q_id"),
        F.col("vd").alias("qvd"),
        F.col("nrm").alias("qnrm"),
    )
    dot = F.aggregate(
        F.zip_with("vd", "qvd", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cos = (
        emb.join(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("vec_id", (dot / (F.col("nrm") * F.col("qnrm"))).alias("c"))
        .orderBy(F.desc("c"), "vec_id")
        .limit(_FUSION_K)
    )
    wc = Window.orderBy(F.desc("c"), F.asc("vec_id"))
    cr = cos.select(
        F.col("vec_id").alias("doc_id"),
        F.row_number().over(wc).cast("bigint").alias("cos_rank"),
    )
    return bmr, cr


def q248_hybrid_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid search: fuse q104's BM25 top-20 with the embedding-cosine
    top-20 for a pinned query vector by BORDA COUNT → (doc_id,
    bm25_rank, cos_rank, fused), top-10. The keyword+vector blend every
    production retrieval stack runs; Borda (weight K+1−rank, absent →
    0) instead of reciprocal-rank fusion because 1/(k+r) is not an
    exact binary double — integer weights keep the fused score and its
    ordering engine-exact, while preserving RRF's rank-only character.

    The pinned query: terms are q104's fixed list; the vector is the
    embedding of the SMALLEST vec_id — a 1-row frame joined broadcast
    (scalar-broadcast BNLJ, whitelisted), so the vector side costs one
    O(n·d) cosine map + a top-20 TakeOrdered, never an O(n²) pair join.
    The rank windows run on the two 20-row heads — constant-bounded.
    The two rank legs are shared with q261's exact-integer RRF via
    `_fusion_rank_legs`.
    """
    bmr, cr = _fusion_rank_legs(spark, sf_dir)
    fused = (
        F.coalesce(F.lit(_FUSION_K + 1) - F.col("bm25_rank"), F.lit(0))
        + F.coalesce(F.lit(_FUSION_K + 1) - F.col("cos_rank"), F.lit(0))
    ).cast("bigint")
    return (
        bmr.join(cr, "doc_id", "full_outer")
        .select("doc_id", "bm25_rank", "cos_rank", fused.alias("fused"))
        .orderBy(F.desc("fused"), "doc_id")
        .limit(_FUSION_TOPN)
    )


Q248_SQL = f"""
WITH bm AS MATERIALIZED ({Q104_SQL}),
bmr AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS bm25_rank
  FROM bm
),
v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
  FROM embeddings
),
nv AS MATERIALIZED (
  SELECT vec_id, vd, nrm FROM (
    SELECT vec_id, vd,
           sqrt(list_reduce(list_transform(vd, x -> x * x), (a, b) -> a + b)) AS nrm
    FROM v
  ) WHERE nrm > 0
),
q AS (SELECT * FROM nv WHERE vec_id = (SELECT min(vec_id) FROM nv)),
cosd AS (
  SELECT nv.vec_id,
         list_reduce(list_transform(range(1, len(nv.vd) + 1),
                                    i -> nv.vd[i] * q.vd[i]), (x, y) -> x + y)
           / (nv.nrm * q.nrm) AS c
  FROM nv, q WHERE nv.vec_id <> q.vec_id
),
cr AS (
  SELECT vec_id AS doc_id,
         row_number() OVER (ORDER BY c DESC, vec_id ASC) AS cos_rank
  FROM cosd
  QUALIFY cos_rank <= {_FUSION_K}
)
SELECT COALESCE(bmr.doc_id, cr.doc_id) AS doc_id,
       CAST(bmr.bm25_rank AS BIGINT) AS bm25_rank,
       CAST(cr.cos_rank AS BIGINT) AS cos_rank,
       CAST(COALESCE({_FUSION_K + 1} - bmr.bm25_rank, 0)
            + COALESCE({_FUSION_K + 1} - cr.cos_rank, 0) AS BIGINT) AS fused
FROM bmr FULL OUTER JOIN cr ON bmr.doc_id = cr.doc_id
ORDER BY fused DESC, COALESCE(bmr.doc_id, cr.doc_id) LIMIT {_FUSION_TOPN}
"""


# --------------------------------------------------------------------------
# q255 — ExactSubstr span excision (Lee et al. 2022's second half)
# --------------------------------------------------------------------------
#: Gate k: the published default is 50 tokens; 20 keeps the excision
#: non-vacuous at EVERY test SF (measured: 41-45 documents carry a
#: cross-document duplicated 20-window at sf0.001 and sf0.01 — the
#: q240 non-vacuity lesson applied at design time).
_XS_K = 20
_XS_MIN_DOCS = 2


def q255_exactsubstr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`operators/dedup.py::exactsubstr_excise` under the exact gate:
    remove from every document every token covered by a 20-token span
    that appears verbatim in ≥ 2 distinct documents — the published
    excision complement (Lee et al. 2022, ExactSubstr) of q121's C4
    boilerplate filter (fixed segments, df > 2) and q131's winnowing
    matcher (detects, never excises). Output is one row per document:
    (doc_id, n_tokens, n_dup_tokens, kept_frac, kept_text)."""
    from ..operators.dedup import exactsubstr_excise

    t = load_tables(spark, sf_dir)
    docs, pins = exactsubstr_excise(
        t["documents"], "doc_id", "text", k=_XS_K, min_docs=_XS_MIN_DOCS
    )
    return materialize_release(docs, *pins)


Q255_SQL = rf"""
WITH d AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w FROM documents
), wins AS (
  SELECT doc_id, s.i AS i,
         md5(array_to_string(list_slice(w, s.i, s.i + {_XS_K - 1}), ' ')) AS gh
  FROM d, LATERAL (SELECT unnest(range(1, len(w) - {_XS_K} + 2)) AS i) s
  WHERE len(w) >= {_XS_K}
), duph AS (
  SELECT gh FROM wins GROUP BY gh
  HAVING count(DISTINCT doc_id) >= {_XS_MIN_DOCS}
), duppos AS (
  SELECT doc_id, i FROM wins WHERE gh IN (SELECT gh FROM duph)
), toks AS (
  SELECT d.doc_id, t.t AS t, w[t.t] AS tok, len(w) AS n
  FROM d, LATERAL (SELECT unnest(range(1, len(w) + 1)) AS t) t
), covered AS (
  SELECT tk.doc_id, tk.t, tk.tok, tk.n,
         EXISTS (SELECT 1 FROM duppos dp WHERE dp.doc_id = tk.doc_id
                 AND dp.i BETWEEN tk.t - {_XS_K - 1} AND tk.t) AS cov
  FROM toks tk
)
SELECT doc_id,
       CAST(max(n) AS BIGINT) AS n_tokens,
       CAST(count(*) FILTER (WHERE cov) AS BIGINT) AS n_dup_tokens,
       round(CAST(count(*) FILTER (WHERE NOT cov) AS DOUBLE) / max(n), 6)
         AS kept_frac,
       COALESCE(string_agg(tok, ' ' ORDER BY t) FILTER (WHERE NOT cov), '')
         AS kept_text
FROM covered GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# q256 — per-source keyword extraction by 2x2 chi-square keyness
# --------------------------------------------------------------------------
#: Minimum in-source occurrences before a token can be a keyword — the
#: standard small-expected-count guard for chi-square (tokens below it
#: have unstable statistics and would flood the head with hapaxes).
_KEYNESS_MIN_A = 5
_KEYNESS_TOPN = 10


def q256_chi2_keyness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 KEYWORDS per source by 2×2 chi-square keyness → (source,
    token, n_tok, chi2, krank): for each (token, source) contingency
    table [[a, b], [c, d]] (a = token count in the source, b =
    elsewhere, c/d = the complements), χ² = N·(ad − bc)² / ((a+b)(c+d)
    (a+c)(b+d)), keeping only ENRICHED tokens (a·n₂ > b·n₁ — over-,
    not under-represented) with a ≥ 5. The corpus-linguistics keyness
    measure (Dunning's G² sibling without the log): what VOCABULARY
    distinguishes this crawl source — the per-token complement of
    q127's per-source aggregate divergence, which sums a reduced form
    over tokens and can't say WHICH tokens drive it.

    Exactness: the enrichment gate is integer (DECIMAL(38,0) products,
    cast BEFORE the multiply); χ² itself is one fixed-order IEEE double
    expression off integer cells — identical in both engines — rounded
    once, and the per-source ranking orders by the ROUNDED value with
    token tie-break, so floats never decide order ambiguously.

    Shape: one (source, token) groupBy off the token explode (the only
    corpus-sized stage, map-side combinable), a vocabulary-sized token
    re-agg joined back on token, a |sources|-row broadcast for stream
    sizes, and a per-source TOPN window over the source's own
    (bounded) enriched-token set.
    """
    from pyspark import StorageLevel

    t = load_tables(spark, sf_dir)
    st = (
        t["documents"]
        .select("source", F.explode(tokenize(F.col("text"))).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("a"))
        # feeds the token re-agg, the source totals, and the score join
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    tot = st.groupBy("token").agg(F.sum("a").cast("bigint").alias("c_t"))
    ns = st.groupBy("source").agg(F.sum("a").cast("bigint").alias("n1"))
    grand = ns.agg(F.sum("n1").cast("bigint").alias("nn"))
    ns = ns.join(F.broadcast(grand)).withColumn("n2", F.col("nn") - F.col("n1"))
    dec = "decimal(38,0)"
    cells = (
        st.filter(F.col("a") >= _KEYNESS_MIN_A)
        .join(tot, "token")
        .join(F.broadcast(ns), "source")
        .withColumn("b", F.col("c_t") - F.col("a"))
        .withColumn("c", F.col("n1") - F.col("a"))
        .withColumn("d", F.col("n2") - F.col("c_t") + F.col("a"))
        # enrichment gate in exact integer arithmetic
        .filter(
            F.col("a").cast(dec) * F.col("n2") > F.col("b").cast(dec) * F.col("n1")
        )
    )
    dbl = lambda c: F.col(c).cast("double")  # noqa: E731
    delta = dbl("a") * dbl("d") - dbl("b") * dbl("c")
    chi2 = (dbl("nn") * (delta * delta)) / (
        dbl("c_t") * (dbl("nn") - dbl("c_t")) * dbl("n1") * dbl("n2")
    )
    scored = cells.select(
        "source",
        "token",
        F.col("a").alias("n_tok"),
        F.round(chi2, 6).alias("chi2"),
    )
    w = Window.partitionBy("source").orderBy(F.desc("chi2"), "token")
    res = (
        scored.withColumn("krank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("krank") <= _KEYNESS_TOPN)
        .orderBy("source", "krank")
    )
    return materialize_release(res, st)


Q256_SQL = rf"""
WITH st AS (
  SELECT source, tok AS token, CAST(count(*) AS BIGINT) AS a
  FROM (SELECT source, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
        FROM documents)
  WHERE tok <> '' GROUP BY source, tok
), tot AS (
  SELECT token, CAST(sum(a) AS BIGINT) AS c_t FROM st GROUP BY token
), ns AS (
  SELECT source, CAST(sum(a) AS BIGINT) AS n1 FROM st GROUP BY source
), g AS (
  SELECT CAST(sum(n1) AS BIGINT) AS nn FROM ns
), cells AS (
  SELECT st.source, st.token, st.a, tot.c_t, ns.n1, g.nn,
         tot.c_t - st.a AS b, ns.n1 - st.a AS c,
         (g.nn - ns.n1) - (tot.c_t - st.a) AS d,
         g.nn - ns.n1 AS n2
  FROM st JOIN tot USING (token) JOIN ns USING (source) CROSS JOIN g
  WHERE st.a >= {_KEYNESS_MIN_A}
    AND CAST(st.a AS DECIMAL(38,0)) * (g.nn - ns.n1)
        > CAST(tot.c_t - st.a AS DECIMAL(38,0)) * ns.n1
), scored AS (
  SELECT source, token, a AS n_tok,
         round(
           (CAST(nn AS DOUBLE)
            * ((CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
                - CAST(b AS DOUBLE) * CAST(c AS DOUBLE))
               * (CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
                  - CAST(b AS DOUBLE) * CAST(c AS DOUBLE))))
           / (CAST(c_t AS DOUBLE) * (CAST(nn AS DOUBLE) - CAST(c_t AS DOUBLE))
              * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)),
           6) AS chi2
  FROM cells
)
SELECT source, token, n_tok, chi2,
       CAST(row_number() OVER (PARTITION BY source ORDER BY chi2 DESC, token)
            AS BIGINT) AS krank
FROM scored
QUALIFY krank <= {_KEYNESS_TOPN}
ORDER BY source, krank
"""


# --------------------------------------------------------------------------
# q257 — blocked edit-distance near-duplicate pairs (record linkage)
# --------------------------------------------------------------------------
#: Stop-block cap: a (length-bucket, prefix) block holding more docs is
#: template mass, not dup candidates — and Levenshtein is the family's
#: most expensive comparator (O(len²) per pair), so runaway blocks cost
#: quadratically TWICE. 64 passes every gate block untouched (measured
#: max block = 23 at sf0.001/sf0.01).
_EDIT_MAX_BLOCK = 64


def q257_edit_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`operators/dedup.py::edit_distance_pairs` under the exact gate:
    document pairs within 10% relative Levenshtein distance, candidates
    blocked on (⌊len/32⌋, first-8-chars) with the 64-doc stop-block cap
    → (a_id, b_id, dist, len_max), all integers. The string-metric
    dedup member: catches char-level typo/OCR-noise duplicates that
    shingle Jaccard under-scores (one edit rewrites a whole token's
    shingles)."""
    from ..operators.dedup import edit_distance_pairs

    t = load_tables(spark, sf_dir)
    return edit_distance_pairs(
        t["documents"], "doc_id", "text", max_block=_EDIT_MAX_BLOCK
    ).orderBy("a_id", "b_id")


Q257_SQL = f"""
WITH d AS (
  SELECT doc_id, lower(trim(text)) AS t FROM documents
), b AS (
  SELECT doc_id, t, length(t) AS ln,
         CAST(floor(length(t) / 32) AS INT) AS lb, substr(t, 1, 8) AS pf
  FROM d
), k AS (
  SELECT lb, pf FROM b GROUP BY lb, pf HAVING count(*) <= {_EDIT_MAX_BLOCK}
), bb AS (
  SELECT b.* FROM b JOIN k USING (lb, pf)
)
SELECT a.doc_id AS a_id, c.doc_id AS b_id,
       CAST(levenshtein(a.t, c.t) AS BIGINT) AS dist,
       CAST(greatest(a.ln, c.ln) AS BIGINT) AS len_max
FROM bb a JOIN bb c ON a.lb = c.lb AND a.pf = c.pf AND a.doc_id < c.doc_id
WHERE levenshtein(a.t, c.t) * 100 <= 10 * greatest(a.ln, c.ln)
ORDER BY a_id, b_id
"""


# --------------------------------------------------------------------------
# q261 — reciprocal rank fusion, made ENGINE-EXACT (integer RRF)
# --------------------------------------------------------------------------
#: RRF smoothing constant (Cormack et al. 2009's published default).
_RRF_C = 60


def _lcm_range(lo: int, hi: int) -> int:
    import math

    out = 1
    for n in range(lo, hi + 1):
        out = out * n // math.gcd(out, n)
    return out


#: lcm(61..80) — every possible RRF denominator c + r for r = 1.._FUSION_K.
#: Clearing denominators by this pinned constant turns 1/(c+r) — NOT an
#: exact binary double, the reason q248 chose Borda — into the exact
#: INTEGER lcm/(c+r): 24 digits, well inside DECIMAL(38,0), and a sum of
#: two such weights keeps the TRUE RRF ordering (positive scaling).
_RRF_LCM = _lcm_range(_RRF_C + 1, _RRF_C + _FUSION_K)
#: weight[r-1] = lcm // (c + r), exact by construction.
_RRF_W = [_RRF_LCM // (_RRF_C + r) for r in range(1, _FUSION_K + 1)]


def q261_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal rank fusion (Cormack, Clarke & Buettcher 2009) of the
    SAME two retrieval heads as q248 → (doc_id, bm25_rank, cos_rank,
    rrf_scaled), top-10: score(d) = Σ_legs 1/(60 + rank_leg(d)), the
    other published rank-only fusion — RRF's harmonic weights decay
    where Borda's are linear, so a #1 hit is worth relatively more and
    deep-tail ranks almost nothing.

    Exactness trick: 1/(60+r) is not an exact binary double (the
    documented reason q248 went Borda), so the scores are CLEARED OF
    DENOMINATORS by the pinned constant lcm(61..80): rrf_scaled =
    Σ lcm/(60+rank), an exact 24-digit INTEGER per document (absent leg
    → 0) that is a positive scalar multiple of the true RRF score —
    identical ordering, zero float anywhere. Weights are Python-pinned
    literals looked up by rank (element_at on a 20-element array), the
    EWMA pinned-weight discipline.

    Shape: composes `_fusion_rank_legs` (q248's two 20-row heads); the
    fuse itself is a full-outer join of two 20-row frames.
    """
    bmr, cr = _fusion_rank_legs(spark, sf_dir)
    warr = F.array(*[F.lit(str(w)).cast("decimal(38,0)") for w in _RRF_W])
    rrf = (
        F.coalesce(
            F.element_at(warr, F.col("bm25_rank").cast("int")),
            F.lit(0).cast("decimal(38,0)"),
        )
        + F.coalesce(
            F.element_at(warr, F.col("cos_rank").cast("int")),
            F.lit(0).cast("decimal(38,0)"),
        )
    ).cast("decimal(38,0)")
    return (
        bmr.join(cr, "doc_id", "full_outer")
        .select("doc_id", "bm25_rank", "cos_rank", rrf.alias("_rrf"))
        .orderBy(F.desc("_rrf"), "doc_id")
        .limit(_FUSION_TOPN)
        # emitted as STRING: a 24-digit integer does not survive either
        # engine's pandas bridge as float64 (2^53), and the driver's
        # value-hash must see the exact digits
        .select(
            "doc_id",
            "bm25_rank",
            "cos_rank",
            F.col("_rrf").cast("string").alias("rrf_scaled"),
        )
    )


_RRF_W_SQL = ", ".join(f"CAST('{w}' AS DECIMAL(38,0))" for w in _RRF_W)

Q261_SQL = f"""
WITH bm AS MATERIALIZED ({Q104_SQL}),
bmr AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS bm25_rank
  FROM bm
),
v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
  FROM embeddings
),
nv AS MATERIALIZED (
  SELECT vec_id, vd, nrm FROM (
    SELECT vec_id, vd,
           sqrt(list_reduce(list_transform(vd, x -> x * x), (a, b) -> a + b)) AS nrm
    FROM v
  ) WHERE nrm > 0
),
q AS (SELECT * FROM nv WHERE vec_id = (SELECT min(vec_id) FROM nv)),
cosd AS (
  SELECT nv.vec_id,
         list_reduce(list_transform(range(1, len(nv.vd) + 1),
                                    i -> nv.vd[i] * q.vd[i]), (x, y) -> x + y)
           / (nv.nrm * q.nrm) AS c
  FROM nv, q WHERE nv.vec_id <> q.vec_id
),
cr AS (
  SELECT vec_id AS doc_id,
         row_number() OVER (ORDER BY c DESC, vec_id ASC) AS cos_rank
  FROM cosd
  QUALIFY cos_rank <= {_FUSION_K}
),
w AS (SELECT [{_RRF_W_SQL}] AS warr)
SELECT doc_id, bm25_rank, cos_rank, CAST(rrf AS VARCHAR) AS rrf_scaled
FROM (
  SELECT COALESCE(bmr.doc_id, cr.doc_id) AS doc_id,
         CAST(bmr.bm25_rank AS BIGINT) AS bm25_rank,
         CAST(cr.cos_rank AS BIGINT) AS cos_rank,
         COALESCE(warr[bmr.bm25_rank], CAST(0 AS DECIMAL(38,0)))
           + COALESCE(warr[cr.cos_rank], CAST(0 AS DECIMAL(38,0))) AS rrf
  FROM bmr FULL OUTER JOIN cr ON bmr.doc_id = cr.doc_id
  CROSS JOIN w
  ORDER BY rrf DESC, COALESCE(bmr.doc_id, cr.doc_id) LIMIT {_FUSION_TOPN}
)
"""


# --------------------------------------------------------------------------


# --------------------------------------------------------------------------
# q267 — Gopher quality-rule audit (Rae et al. 2021, per-source)
# --------------------------------------------------------------------------

#: The Gopher stop-word presence set (Rae et al. 2021 Table A1): a doc
#: must contain at least 2 of these to pass the stop-word rule.
_GOPHER_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")


def q267_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher rule-based quality audit (Rae et al. 2021 §A1.1 — the
    published heuristic filter suite behind MassiveText, and the
    de-facto baseline every later corpus pipeline compares against) →
    one row per source (source, n_docs, per-rule failure counts,
    n_pass). The RULE-ATTRIBUTED complement of q25's scalar quality
    score: q25 says how good a doc is, this says WHICH published gate
    each source's documents die on — the number a crawl owner reads
    before renegotiating an extractor.

    Rules (thresholds are the paper's, checked in CROSS-MULTIPLIED
    integer form so no ratio ever floats): word count in [50, 100k];
    mean word length in [3, 10] (3·W ≤ chars ≤ 10·W); symbol-to-word
    ratio ≤ 0.1 for '#'/'...'/'…' (10·S ≤ W); ≤ 90% of lines
    bullet-led (10·B ≤ 9·L); ≤ 30% of lines ellipsis-ended
    (10·E ≤ 3·L); ≥ 80% of words contain an alphabetic char
    (5·A ≥ 4·W); ≥ 2 distinct stop-words present.

    EXACTNESS: the whole query is INTEGER — counts, cross-multiplied
    comparisons, and failure tallies; there is no double anywhere.
    Character counts run on the RAW (un-lowered) text: lower() changes
    code-point counts for some scripts (U+0130 → 2 chars) and engines
    need not agree; only the stop-word containment lowers, where
    length is irrelevant.

    Shape: one pure-Column per-document pass (zero joins, zero
    explodes — the line/word counts are higher-order array functions
    over per-row arrays) + one map-side-combinable source groupBy whose
    output is |sources|-bounded.
    """
    t = load_tables(spark, sf_dir)
    raw = F.col("text")
    toks = F.split(F.trim(raw), r"\s+")
    toks_low = F.split(F.trim(F.lower(raw)), r"\s+")
    n_toks = F.size(toks).cast("bigint")
    n_chars = F.length(F.regexp_replace(F.trim(raw), r"\s+", "")).cast("bigint")
    n_hash = (F.length(raw) - F.length(F.regexp_replace(raw, r"#", ""))).cast(
        "bigint"
    )
    n_dots = (
        (F.length(raw) - F.length(F.replace(raw, F.lit("..."), F.lit("")))) / 3
    ).cast("bigint")
    n_hellip = (
        F.length(raw) - F.length(F.replace(raw, F.lit("…"), F.lit("")))
    ).cast("bigint")
    # CRLF corpora: both engines' rtrim strips only spaces, so without
    # this every line of \r\n text ends in \r and the ellipsis-ended
    # rule can never fire (ADVICE r11 #3). Normalize line endings
    # before splitting; word/char counts are unaffected (\r is \s).
    lines = F.split(F.regexp_replace(raw, "\r\n", "\n"), "\n")
    n_lines = F.size(lines).cast("bigint")
    n_bullet = F.size(
        F.filter(lines, lambda l: F.ltrim(l).rlike("^[-*•]"))
    ).cast("bigint")
    n_ell_lines = F.size(
        F.filter(
            lines,
            lambda l: F.endswith(F.rtrim(l), F.lit("..."))
            | F.endswith(F.rtrim(l), F.lit("…")),
        )
    ).cast("bigint")
    n_alpha = F.size(F.filter(toks, lambda w: w.rlike("[A-Za-z]"))).cast(
        "bigint"
    )
    n_stops = F.size(
        F.filter(
            F.array(*[F.lit(s) for s in _GOPHER_STOPS]),
            lambda s: F.array_contains(toks_low, s),
        )
    ).cast("bigint")
    sym = n_hash + n_dots + n_hellip
    fails = {
        "fail_word_count": ~((n_toks >= 50) & (n_toks <= 100000)),
        "fail_mean_word_len": ~(
            (3 * n_toks <= n_chars) & (n_chars <= 10 * n_toks)
        ),
        "fail_symbol_ratio": ~(10 * sym <= n_toks),
        "fail_bullet_lines": ~(10 * n_bullet <= 9 * n_lines),
        "fail_ellipsis_lines": ~(10 * n_ell_lines <= 3 * n_lines),
        "fail_alpha_words": ~(5 * n_alpha >= 4 * n_toks),
        "fail_stop_words": ~(n_stops >= 2),
    }
    per_doc = t["documents"].filter(raw.isNotNull()).select(
        "source",
        *[v.alias(k) for k, v in fails.items()],
    )
    aggs = [
        F.sum(F.when(F.col(k), 1).otherwise(0)).cast("bigint").alias(k)
        for k in fails
    ]
    any_fail = None
    for k in fails:
        any_fail = F.col(k) if any_fail is None else (any_fail | F.col(k))
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            *aggs,
            F.sum(F.when(~any_fail, 1).otherwise(0))
            .cast("bigint")
            .alias("n_pass"),
        )
        .orderBy("source")
    )


Q267_SQL = f"""
WITH per_doc AS (
  SELECT source,
         CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS w,
         CAST(length(regexp_replace(trim(text), '\\s+', '', 'g')) AS BIGINT)
           AS chars,
         CAST(length(text) - length(replace(text, '#', '')) AS BIGINT)
           + CAST((length(text) - length(replace(text, '...', ''))) / 3
                  AS BIGINT)
           + CAST(length(text) - length(replace(text, '…', '')) AS BIGINT)
           AS sym,
         CAST(len(string_split(replace(text, chr(13) || chr(10), chr(10)),
                               chr(10))) AS BIGINT) AS n_lines,
         CAST(len(list_filter(
                string_split(replace(text, chr(13) || chr(10), chr(10)),
                             chr(10)),
                l -> regexp_matches(ltrim(l), '^[-*•]')))
              AS BIGINT) AS n_bullet,
         CAST(len(list_filter(
                string_split(replace(text, chr(13) || chr(10), chr(10)),
                             chr(10)),
                l -> ends_with(rtrim(l), '...')
                     OR ends_with(rtrim(l), '…')))
              AS BIGINT) AS n_ell,
         CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                              t -> regexp_matches(t, '[A-Za-z]')))
              AS BIGINT) AS n_alpha,
         CAST(len(list_filter(
                [{", ".join("'" + s + "'" for s in _GOPHER_STOPS)}],
                s -> list_contains(
                  regexp_split_to_array(trim(lower(text)), '\\s+'), s)))
              AS BIGINT) AS n_stops
  FROM documents WHERE text IS NOT NULL
), flags AS (
  SELECT source,
         NOT (w >= 50 AND w <= 100000) AS fail_word_count,
         NOT (3 * w <= chars AND chars <= 10 * w) AS fail_mean_word_len,
         NOT (10 * sym <= w) AS fail_symbol_ratio,
         NOT (10 * n_bullet <= 9 * n_lines) AS fail_bullet_lines,
         NOT (10 * n_ell <= 3 * n_lines) AS fail_ellipsis_lines,
         NOT (5 * n_alpha >= 4 * w) AS fail_alpha_words,
         NOT (n_stops >= 2) AS fail_stop_words
  FROM per_doc
)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN fail_word_count THEN 1 ELSE 0 END) AS BIGINT)
         AS fail_word_count,
       CAST(sum(CASE WHEN fail_mean_word_len THEN 1 ELSE 0 END) AS BIGINT)
         AS fail_mean_word_len,
       CAST(sum(CASE WHEN fail_symbol_ratio THEN 1 ELSE 0 END) AS BIGINT)
         AS fail_symbol_ratio,
       CAST(sum(CASE WHEN fail_bullet_lines THEN 1 ELSE 0 END) AS BIGINT)
         AS fail_bullet_lines,
       CAST(sum(CASE WHEN fail_ellipsis_lines THEN 1 ELSE 0 END) AS BIGINT)
         AS fail_ellipsis_lines,
       CAST(sum(CASE WHEN fail_alpha_words THEN 1 ELSE 0 END) AS BIGINT)
         AS fail_alpha_words,
       CAST(sum(CASE WHEN fail_stop_words THEN 1 ELSE 0 END) AS BIGINT)
         AS fail_stop_words,
       CAST(sum(CASE WHEN NOT (fail_word_count OR fail_mean_word_len
                               OR fail_symbol_ratio OR fail_bullet_lines
                               OR fail_ellipsis_lines OR fail_alpha_words
                               OR fail_stop_words)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
FROM flags
GROUP BY source
ORDER BY source
"""


# --------------------------------------------------------------------------
# q276 — budget-driven deterministic document sampling
# --------------------------------------------------------------------------


def q276_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q200's token allocation EXECUTED as a document sample → per
    source (source, n_docs, n_docs_kept, n_tokens, alloc_tokens,
    n_tokens_kept): the step between deciding a mixture and shipping
    one. Each document is kept by a deterministic md5 gate at its
    source's allocation rate, so reruns, engines, and partitionings
    all select the SAME documents (the q75 sampling discipline), and
    n_tokens_kept ≈ alloc_tokens without any RNG to audit.

    GATE EXACTNESS — the rate is never computed: keeping a doc iff
    (md5(doc_id) mod 10⁶)·n_tokens < alloc·10⁶ is the CROSS-MULTIPLIED
    integer form of hash-fraction < alloc/n_tokens — DECIMAL products,
    no division, no rounding, no float anywhere in membership.
    Over-allocated sources (alloc ≥ n_tokens, epochs ≥ 1) keep every
    document by the same inequality.

    Shape: q200's allocation (|sources|-row) broadcast onto one
    document pass; per-source integer aggregates.
    """
    t = load_tables(spark, sf_dir)
    alloc = q200_budget_allocation(spark, sf_dir).select(
        "source", F.col("n_tokens").alias("src_tokens"), "alloc_tokens"
    )
    dec19 = "decimal(19,0)"
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
    ).cast("bigint")
    docs = t["documents"].select(
        "source",
        F.size(tokenize(F.col("text"))).cast("bigint").alias("n_toks"),
        F.pmod(h, F.lit(1_000_000)).alias("hmod"),
    )
    j = docs.join(F.broadcast(alloc), "source")
    kept = F.col("hmod").cast(dec19) * F.col("src_tokens").cast(dec19) < F.col(
        "alloc_tokens"
    ).cast(dec19) * F.lit(1_000_000).cast(dec19)
    return (
        j.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.when(kept, 1).otherwise(0)).cast("bigint").alias(
                "n_docs_kept"
            ),
            F.max("src_tokens").alias("n_tokens"),
            F.max("alloc_tokens").alias("alloc_tokens"),
            F.sum(F.when(kept, F.col("n_toks")).otherwise(0))
            .cast("bigint")
            .alias("n_tokens_kept"),
        )
        .orderBy("source")
    )


Q276_SQL = rf"""
WITH alloc AS (
{Q200_SQL}
), docs AS (
  SELECT source,
         CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS BIGINT)
           AS n_toks,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
           % 1000000 AS hmod
  FROM documents
), j AS (
  SELECT d.source, d.n_toks, d.hmod,
         a.n_tokens AS src_tokens, a.alloc_tokens,
         CAST(d.hmod AS DECIMAL(19,0)) * CAST(a.n_tokens AS DECIMAL(19,0))
           < CAST(a.alloc_tokens AS DECIMAL(19,0))
             * CAST(1000000 AS DECIMAL(19,0)) AS kept
  FROM docs d JOIN alloc a USING (source)
)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_kept,
       max(src_tokens) AS n_tokens, max(alloc_tokens) AS alloc_tokens,
       CAST(sum(CASE WHEN kept THEN n_toks ELSE 0 END) AS BIGINT)
         AS n_tokens_kept
FROM j
GROUP BY source
ORDER BY source
"""


# --------------------------------------------------------------------------
# q281 — Cramér's V association between document language and source
# --------------------------------------------------------------------------


def q281_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V for the lang × source contingency table → one row
    (n_docs, n_langs, n_sources, chi2, cramers_v): HOW STRONGLY does
    source determine language? q127 measures distributional divergence
    BETWEEN sources over tokens; this is the single normalized [0, 1]
    association number over the label pair every mixture designer
    checks first — V ≈ 1 means language is a proxy for source (dedup
    and decontamination must stratify on BOTH, else neither).

    EXACTNESS: the χ² sum runs over the FULL k×m grid (zero cells
    included — omitting them understates χ²). Each cell's deviation
    d_ij = N·n_ij − r_i·c_j is an exact DECIMAL(38,0); the per-cell
    term d²/(r_i·c_j) is a double, so the CELL SUM is order-sensitive —
    it folds over the (lang, source)-sorted array on one row (the
    q258/q278 sequential discipline) and the oracle unrolls the
    identical fold in a recursive CTE. χ² = fold/N and
    V = √(χ²/(N·min(k−1, m−1))) are fixed-order double expressions,
    NULLIF-guarded for a single-row/column table. NULL lang/source rows
    are excluded in BOTH engines (the q263 NULL pin).

    Shape: one (lang, source) groupBy (the only corpus-sized stage);
    margins, the k×m grid (broadcast cross of two label frames — the
    scalar-broadcast BNLJ class), and the fold are label-bounded.
    """
    t = load_tables(spark, sf_dir)
    obs = (
        t["documents"]
        .filter(F.col("lang").isNotNull() & F.col("source").isNotNull())
        .groupBy("lang", "source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    dec = "decimal(38,0)"
    dec19 = "decimal(19,0)"
    r = obs.groupBy("lang").agg(F.sum("n").cast("bigint").alias("r"))
    c = obs.groupBy("source").agg(F.sum("n").cast("bigint").alias("c"))
    tot = obs.agg(
        F.sum("n").cast("bigint").alias("n_docs"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        F.countDistinct("source").cast("bigint").alias("n_sources"),
    )
    grid = (
        r.crossJoin(F.broadcast(c))
        .join(obs, ["lang", "source"], "left")
        .join(F.broadcast(tot))
        .select(
            "lang",
            "source",
            (
                F.col("n_docs").cast(dec19) * F.coalesce(F.col("n"), F.lit(0)).cast(dec19)
                - F.col("r").cast(dec19) * F.col("c").cast(dec19)
            )
            .cast(dec)
            .cast("double")
            .alias("d"),
            (F.col("r").cast("double") * F.col("c").cast("double")).alias("rc"),
        )
    )
    one = grid.agg(
        F.array_sort(
            F.collect_list(F.struct("lang", "source", F.col("d"), F.col("rc")))
        ).alias("arr")
    )
    fold = F.aggregate(
        F.col("arr"), F.lit(0.0), lambda a, e: a + (e["d"] * e["d"]) / e["rc"]
    )
    j = one.join(F.broadcast(tot))
    nd = F.col("n_docs").cast("double")
    # d_ij = N·n_ij − r·c = N·(n_ij − e_ij) with e_ij = r·c/N, so
    # (n−e)²/e = d²/(N·r·c) and χ² = fold/N — one division, identical
    # expression in the oracle; the exponent is pinned by the
    # independent-reference test, not prose.
    chi2 = fold / nd
    mind = F.least(F.col("n_langs") - 1, F.col("n_sources") - 1).cast("double")
    v = F.sqrt(chi2 / (nd * F.nullif(mind, F.lit(0.0))))
    guard = (F.col("n_docs") > 0) & (
        F.least(F.col("n_langs"), F.col("n_sources")) > 1
    )
    return j.select(
        "n_docs",
        "n_langs",
        "n_sources",
        F.when(guard, F.round(chi2, 9)).alias("chi2"),
        F.when(guard, F.round(v, 9)).alias("cramers_v"),
    )


Q281_SQL = """
WITH RECURSIVE obs AS (
  SELECT lang, source, CAST(count(*) AS BIGINT) AS n
  FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL
  GROUP BY lang, source
), rr AS (
  SELECT lang, CAST(sum(n) AS BIGINT) AS r FROM obs GROUP BY lang
), cc AS (
  SELECT source, CAST(sum(n) AS BIGINT) AS c FROM obs GROUP BY source
), tot AS (
  SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS n_docs,
         CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         CAST(count(DISTINCT source) AS BIGINT) AS n_sources
  FROM obs
), grid AS (
  SELECT rr.lang, cc.source,
         CAST(CAST(CAST(tot.n_docs AS DECIMAL(19,0))
                   * CAST(coalesce(obs.n, 0) AS DECIMAL(19,0))
                   - CAST(rr.r AS DECIMAL(19,0)) * CAST(cc.c AS DECIMAL(19,0))
              AS DECIMAL(38,0)) AS DOUBLE) AS d,
         CAST(rr.r AS DOUBLE) * CAST(cc.c AS DOUBLE) AS rc,
         row_number() OVER (ORDER BY rr.lang, cc.source) AS i
  FROM rr CROSS JOIN cc CROSS JOIN tot
  LEFT JOIN obs ON obs.lang = rr.lang AND obs.source = cc.source
), fold AS (
  SELECT i, 0.0 + (d * d) / rc AS s FROM grid WHERE i = 1
  UNION ALL
  SELECT grid.i, fold.s + (grid.d * grid.d) / grid.rc
  FROM fold JOIN grid ON grid.i = fold.i + 1
), ftop AS (
  SELECT coalesce((SELECT s FROM fold WHERE i = (SELECT max(i) FROM fold)),
                  0.0) AS s
)
SELECT tot.n_docs, tot.n_langs, tot.n_sources,
       CASE WHEN tot.n_docs > 0 AND least(tot.n_langs, tot.n_sources) > 1
       THEN round(ftop.s / CAST(tot.n_docs AS DOUBLE), 9)
       END AS chi2,
       CASE WHEN tot.n_docs > 0 AND least(tot.n_langs, tot.n_sources) > 1
       THEN round(sqrt(
              (ftop.s / CAST(tot.n_docs AS DOUBLE))
              / (CAST(tot.n_docs AS DOUBLE)
                 * NULLIF(CAST(least(tot.n_langs - 1, tot.n_sources - 1)
                          AS DOUBLE), 0.0))), 9)
       END AS cramers_v
FROM tot CROSS JOIN ftop
"""


# --------------------------------------------------------------------------
# q283 — Brown-Forsythe equality-of-variance test of doc length by source
# --------------------------------------------------------------------------


def q283_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe (median-centered Levene) test: do sources differ
    in document-LENGTH SPREAD, not just mean length? → one row (n_docs,
    k_sources, f_stat). q148 ships the per-source length moments; this
    is the robust omnibus answer to 'is any source's length variance
    different?' — the test run before trusting a shared chunking or
    packing parameter (q181/q185) across sources, median-centered
    because doc lengths are exactly the heavy-tailed column where
    mean-centered Levene loses its level.

    EXACTNESS: lengths are integer token counts; each source's center
    is the LOWER MEDIAN (type-1, rank ⌈n/2⌉ — the q236/q260 integer-
    rank discipline, no midpoint averaging, so both engines pick the
    identical integer and deviations z = |x − med| stay INTEGER). The
    one-way F over z uses exact DECIMAL sufficient statistics; the k
    per-group terms (Σz_g)²/n_g quantize through DECIMAL(38,18) before
    their sum (q252's discipline — group iteration order must not leak
    into the double), then F is ONE fixed-order double expression,
    NULLIF-guarded for k < 2 / N ≤ k / zero within-variance.

    Shape: one tokenize+length pass (the only corpus-sized stage), a
    (source, len) histogram, per-source median via a SOURCE-PARTITIONED
    cumsum window over the histogram (≤ |distinct lengths| rows per
    task), then label-bounded aggregates.
    """
    t = load_tables(spark, sf_dir)
    lens = (
        t["documents"]
        .filter(F.col("text").isNotNull() & F.col("source").isNotNull())
        .select("source", F.size(tokenize(F.col("text"))).cast("bigint").alias("x"))
    )
    hist = lens.groupBy("source", "x").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_v")
    )
    wsrc = (
        Window.partitionBy("source")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = hist.withColumn("c", F.sum("n_v").over(wsrc)).withColumn(
        "n_g", F.sum("n_v").over(Window.partitionBy("source"))
    )
    med = (
        cum.filter(2 * F.col("c") >= F.col("n_g"))  # c >= ceil(n_g/2)
        .groupBy("source")
        .agg(F.min("x").alias("med"))
    )
    dec = "decimal(38,0)"
    dec18 = "decimal(38,18)"
    z = lens.join(med, "source").select(
        "source", F.abs(F.col("x") - F.col("med")).cast("bigint").alias("z")
    )
    per_g = z.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_g"),
        F.sum(F.col("z").cast(dec)).cast(dec).alias("s_g"),
        F.sum(F.col("z").cast("decimal(19,0)") * F.col("z")).cast(dec).alias(
            "s2_g"
        ),
    )
    between = per_g.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum(
            (
                F.col("s_g").cast("double")
                * F.col("s_g").cast("double")
                / F.col("n_g").cast("double")
            ).cast(dec18)
        )
        .cast("double")
        .alias("sum_sg2_ng"),
        F.sum("n_g").cast("bigint").alias("n_docs"),
        F.sum("s_g").cast(dec).alias("s"),
        F.sum("s2_g").cast(dec).alias("s2"),
    )
    nd = F.col("n_docs").cast("double")
    kd = F.col("k").cast("double")
    corr = F.col("s").cast("double") * F.col("s").cast("double") / nd
    ssb = F.col("sum_sg2_ng") - corr
    ssw = F.col("s2").cast("double") - F.col("sum_sg2_ng")
    fstat = (ssb / F.nullif(kd - 1.0, F.lit(0.0))) / F.nullif(
        ssw / F.nullif(nd - kd, F.lit(0.0)), F.lit(0.0)
    )
    guard = (F.col("k") > 1) & (F.col("n_docs") > F.col("k"))
    return between.select(
        "n_docs",
        F.col("k").alias("k_sources"),
        F.when(guard, F.round(fstat, 9)).alias("f_stat"),
    )


Q283_SQL = r"""
WITH lens AS (
  SELECT source,
         CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS BIGINT) AS x
  FROM documents WHERE text IS NOT NULL AND source IS NOT NULL
), hist AS (
  SELECT source, x, CAST(count(*) AS BIGINT) AS n_v
  FROM lens GROUP BY source, x
), cum AS (
  SELECT source, x, n_v,
         sum(n_v) OVER (PARTITION BY source ORDER BY x
                        ROWS UNBOUNDED PRECEDING) AS c,
         sum(n_v) OVER (PARTITION BY source) AS n_g
  FROM hist
), med AS (
  SELECT source, min(x) AS med FROM cum WHERE 2 * c >= n_g GROUP BY source
), z AS (
  SELECT lens.source, CAST(abs(lens.x - med.med) AS BIGINT) AS z
  FROM lens JOIN med ON lens.source = med.source
), per_g AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_g,
         CAST(sum(CAST(z AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s_g,
         CAST(sum(CAST(z AS DECIMAL(19,0)) * z) AS DECIMAL(38,0)) AS s2_g
  FROM z GROUP BY source
), between_g AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         CAST(sum(CAST(CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE)
                       / CAST(n_g AS DOUBLE) AS DECIMAL(38,18))) AS DOUBLE)
           AS sum_sg2_ng,
         CAST(sum(n_g) AS BIGINT) AS n_docs,
         CAST(sum(s_g) AS DECIMAL(38,0)) AS s,
         CAST(sum(s2_g) AS DECIMAL(38,0)) AS s2
  FROM per_g
)
SELECT n_docs, k AS k_sources,
       CASE WHEN k > 1 AND n_docs > k THEN round(
         ((sum_sg2_ng
           - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n_docs AS DOUBLE))
          / NULLIF(CAST(k AS DOUBLE) - 1.0, 0.0))
         / NULLIF((CAST(s2 AS DOUBLE) - sum_sg2_ng)
                  / NULLIF(CAST(n_docs AS DOUBLE) - CAST(k AS DOUBLE), 0.0),
                  0.0), 9) END AS f_stat
FROM between_g
"""


# --------------------------------------------------------------------------
# q284 — Cohen's kappa: label vs. n-gram language-ID agreement
# --------------------------------------------------------------------------


def q284_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the corpus's ``lang`` labels and q24's
    stop-word language classifier → one row (n_docs, n_agree, s_chance,
    kappa): chance-corrected agreement — the single number that says
    whether the router (q158's confusion matrix is its WHERE) agrees
    with the labels BEYOND what the class mix alone would produce.
    Accuracy flatters any classifier on a skewed corpus; kappa is the
    audit number.

    EXACTNESS: the whole statistic is INTEGER until one division —
    kappa = (p_o − p_e)/(1 − p_e) = (N·diag − S)/(N² − S) with
    S = Σ_label row_margin·col_margin, all exact DECIMAL(38,0)
    (S emitted as a string audit column). One double division,
    NULLIF-guarded for the degenerate S = N² (single-label) table.
    NULL lang / NULL text rows are excluded in BOTH engines.

    Shape: q24's zero-shuffle classification pass + one |langs|²-cell
    groupBy; margins and S are label-bounded.
    """
    t = load_tables(spark, sf_dir)
    conf = (
        t["documents"]
        .filter(F.col("lang").isNotNull() & F.col("text").isNotNull())
        .select("lang", tokenize(F.col("text")).alias("toks"))
        .select("lang", lang_id(F.col("toks")).alias("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    dec = "decimal(38,0)"
    dec19 = "decimal(19,0)"
    r = conf.groupBy(F.col("lang").alias("label")).agg(
        F.sum("n").cast("bigint").alias("r")
    )
    c = conf.groupBy(F.col("pred_lang").alias("label")).agg(
        F.sum("n").cast("bigint").alias("c")
    )
    s = (
        r.join(c, "label")
        .agg(F.sum(F.col("r").cast(dec19) * F.col("c").cast(dec19)).cast(dec).alias("s"))
        .select(F.coalesce(F.col("s"), F.lit(0).cast(dec)).alias("s"))
    )
    tot = conf.agg(
        F.coalesce(F.sum("n"), F.lit(0)).cast("bigint").alias("n_docs"),
        F.coalesce(
            F.sum(F.when(F.col("lang") == F.col("pred_lang"), F.col("n"))), F.lit(0)
        )
        .cast("bigint")
        .alias("n_agree"),
    )
    j = tot.join(F.broadcast(s))
    n = F.col("n_docs").cast(dec19)
    num = (n * F.col("n_agree").cast(dec19) - F.col("s")).cast(dec)
    den = (n * n - F.col("s")).cast(dec)
    return j.select(
        "n_docs",
        "n_agree",
        F.col("s").cast("string").alias("s_chance"),
        F.round(
            num.cast("double")
            / F.nullif(den, F.lit(0).cast(dec)).cast("double"),
            9,
        ).alias("kappa"),
    )


Q284_SQL = rf"""
WITH toks AS (
  SELECT lang, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
  FROM documents WHERE lang IS NOT NULL AND text IS NOT NULL
),
scored AS (
  SELECT lang,
         {_sql_stop_count('en')} AS s_en, {_sql_stop_count('de')} AS s_de,
         {_sql_stop_count('es')} AS s_es, {_sql_stop_count('fr')} AS s_fr
  FROM toks
), conf AS (
  SELECT lang,
         CASE WHEN greatest(s_en, s_de, s_es, s_fr) <= 0 THEN 'unknown'
              WHEN s_en = greatest(s_en, s_de, s_es, s_fr) THEN 'en'
              WHEN s_de = greatest(s_en, s_de, s_es, s_fr) THEN 'de'
              WHEN s_es = greatest(s_en, s_de, s_es, s_fr) THEN 'es'
              WHEN s_fr = greatest(s_en, s_de, s_es, s_fr) THEN 'fr'
              ELSE 'unknown' END AS pred_lang,
         CAST(count(*) AS BIGINT) AS n
  FROM scored GROUP BY 1, 2
), rr AS (
  SELECT lang AS label, CAST(sum(n) AS BIGINT) AS r FROM conf GROUP BY lang
), cc AS (
  SELECT pred_lang AS label, CAST(sum(n) AS BIGINT) AS c
  FROM conf GROUP BY pred_lang
), sc AS (
  SELECT CAST(coalesce(sum(CAST(rr.r AS DECIMAL(19,0))
                           * CAST(cc.c AS DECIMAL(19,0))),
                       0) AS DECIMAL(38,0)) AS s
  FROM rr JOIN cc USING (label)
), tot AS (
  SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS n_docs,
         CAST(coalesce(sum(CASE WHEN lang = pred_lang THEN n END), 0) AS BIGINT)
           AS n_agree
  FROM conf
)
SELECT n_docs, n_agree, CAST(s AS VARCHAR) AS s_chance,
       round(CAST(CAST(CAST(n_docs AS DECIMAL(19,0))
                       * CAST(n_agree AS DECIMAL(19,0)) - s
                  AS DECIMAL(38,0)) AS DOUBLE)
             / CAST(NULLIF(CAST(CAST(n_docs AS DECIMAL(19,0))
                                * CAST(n_docs AS DECIMAL(19,0)) - s
                           AS DECIMAL(38,0)),
                           CAST(0 AS DECIMAL(38,0))) AS DOUBLE), 9) AS kappa
FROM tot CROSS JOIN sc
"""


TEXT_QUERIES = {
    "q23_dedup_exact": (q23_dedup_exact, Q23_SQL),
    "q24_lang_id": (q24_lang_id, Q24_SQL),
    "q25_quality_score": (q25_quality_score, Q25_SQL),
    "q26_token_count": (q26_token_count, Q26_SQL),
    "q27_fingerprint": (q27_fingerprint, Q27_SQL),
    "q28_minhash_lsh": (q28_minhash_lsh, Q28_SQL),
    "q29_ngram_jaccard": (q29_ngram_jaccard, Q29_SQL),
    "q30_simhash": (q30_simhash, Q30_SQL),
    "q31_embedding_topk": (q31_embedding_topk, Q31_SQL),
    "q32_embedding_lsh": (q32_embedding_lsh, Q32_SQL),
    "q38_ivf_topk": (q38_ivf_topk, Q38_SQL),
    "q33_multimodal_decode": (q33_multimodal_decode, Q33_SQL),
    "q36_salted_agg": (q36_salted_agg, Q36_SQL),
    "q37_approx_distinct": (q37_approx_distinct, None),
    "q51_token_topk": (q51_token_topk, Q51_SQL),
    "q72_dup_clusters": (q72_dup_clusters, Q72_SQL),
    "q73_corpus_clean": (q73_corpus_clean, Q73_SQL),
    "q75_stratified_sample": (q75_stratified_sample, Q75_SQL),
    "q77_token_shards": (q77_token_shards, Q77_SQL),
    "q78_decontamination": (q78_decontamination, Q78_SQL),
    "q81_corpus_prep": (q81_corpus_prep, Q81_SQL),
    "q82_embedding_dedup": (q82_embedding_dedup, Q82_SQL),
    "q84_repetition_quality": (q84_repetition_quality, Q84_SQL),
    "q85_chunk_windows": (q85_chunk_windows, Q85_SQL),
    "q86_ngram_collision": (q86_ngram_collision, Q86_SQL),
    "q87_mixture_sample": (q87_mixture_sample, Q87_SQL),
    "q88_label_centroids": (q88_label_centroids, Q88_SQL),
    "q89_unigram_commonness": (q89_unigram_commonness, Q89_SQL),
    "q90_bloom_decontam": (q90_bloom_decontam, Q90_SQL),
    "q91_segment_dedup": (q91_segment_dedup, Q91_SQL),
    "q92_tfidf_topk": (q92_tfidf_topk, Q92_SQL),
    "q93_lloyd_step": (q93_lloyd_step, Q93_SQL),
    "q94_kmeans_train": (q94_kmeans_train, Q94_SQL),
    "q95_quality_deciles": (q95_quality_deciles, Q95_SQL),
    "q96_source_leakage": (q96_source_leakage, Q96_SQL),
    "q97_sequence_spans": (q97_sequence_spans, Q97_SQL),
    "q98_bpe_pairs": (q98_bpe_pairs, Q98_SQL),
    "q99_corpus_datasheet": (q99_corpus_datasheet, Q99_SQL),
    "q100_semantic_dedup": (q100_semantic_dedup, Q100_SQL),
    "q101_pq_encode": (q101_pq_encode, Q101_SQL),
    "q102_leakage_safe_split": (q102_leakage_safe_split, Q102_SQL),
    "q103_kn_ngram_stats": (q103_kn_ngram_stats, Q103_SQL),
    "q104_bm25_topk": (q104_bm25_topk, Q104_SQL),
    "q105_cms_heavy_hitters": (q105_cms_heavy_hitters, Q105_SQL),
    "q106_jl_project": (q106_jl_project, Q106_SQL),
    "q107_pq_adc_topk": (q107_pq_adc_topk, Q107_SQL),
    "q108_incremental_minhash": (q108_incremental_minhash, Q108_SQL),
    "q113_sq8_quantize": (q113_sq8_quantize, Q113_SQL),
    "q114_ann_recall": (q114_ann_recall, Q114_SQL),
    "q115_domain_cap": (q115_domain_cap, Q115_SQL),
    "q116_bigram_lm_score": (q116_bigram_lm_score, Q116_SQL),
    "q117_epoch_upsample": (q117_epoch_upsample, Q117_SQL),
    "q118_hard_negatives": (q118_hard_negatives, Q118_SQL),
    "q119_shared_substring_runs": (q119_shared_substring_runs, Q119_SQL),
    "q120_bpe_apply": (q120_bpe_apply, Q120_SQL),
    "q121_boilerplate_filter": (q121_boilerplate_filter, Q121_SQL),
    "q122_winnowing": (q122_winnowing, Q122_SQL),
    "q123_dsir_importance": (q123_dsir_importance, Q123_SQL),
    "q124_vocab_coverage": (q124_vocab_coverage, Q124_SQL),
    "q125_overlap_stitch": (q125_overlap_stitch, Q125_SQL),
    "q126_lsh_recall": (q126_lsh_recall, Q126_SQL),
    "q127_source_divergence": (q127_source_divergence, Q127_SQL),
    "q128_ts_pattern_search": (q128_ts_pattern_search, Q128_SQL),
    "q129_tokenizer_fertility": (q129_tokenizer_fertility, Q129_SQL),
    "q130_span_corruption": (q130_span_corruption, Q130_SQL),
    "q131_winnow_matches": (q131_winnow_matches, Q131_SQL),
    "q132_pagerank": (q132_pagerank, Q132_SQL),
    "q133_lexical_diversity": (q133_lexical_diversity, Q133_SQL),
    "q134_vocab_growth": (q134_vocab_growth, Q134_SQL),
    "q135_quality_keeper": (q135_quality_keeper, Q135_SQL),
    "q136_decontaminated_split": (q136_decontaminated_split, Q136_SQL),
    "q137_drop_ledger": (q137_drop_ledger, Q137_SQL),
    "q138_adc_recall": (q138_adc_recall, Q138_SQL),
    "q139_quality_trend": (q139_quality_trend, Q139_SQL),
    "q140_crop_pairs": (q140_crop_pairs, Q140_SQL),
    "q141_gopher_rules": (q141_gopher_rules, Q141_SQL),
    "q142_repetition_fractions": (q142_repetition_fractions, Q142_SQL),
    "q143_kn_score": (q143_kn_score, Q143_SQL),
    "q144_langid_margin": (q144_langid_margin, Q144_SQL),
    "q145_mixture_weights": (q145_mixture_weights, Q145_SQL),
    "q146_threshold_sweep": (q146_threshold_sweep, Q146_SQL),
    "q147_ngram_novelty": (q147_ngram_novelty, Q147_SQL),
    "q148_length_moments": (q148_length_moments, Q148_SQL),
    "q149_pii_density": (q149_pii_density, Q149_SQL),
    "q150_label_outliers": (q150_label_outliers, Q150_SQL),
    "q151_effective_tokens": (q151_effective_tokens, Q151_SQL),
    "q152_minhash_calibration": (q152_minhash_calibration, Q152_SQL),
    "q153_crosslingual_dups": (q153_crosslingual_dups, Q153_SQL),
    "q154_rare_tokens": (q154_rare_tokens, Q154_SQL),
    "q155_degree_histogram": (q155_degree_histogram, Q155_SQL),
    "q156_quality_dup_crosstab": (q156_quality_dup_crosstab, Q156_SQL),
    "q157_collocations": (q157_collocations, Q157_SQL),
    "q158_langid_confusion": (q158_langid_confusion, Q158_SQL),
    "q159_oov_curve": (q159_oov_curve, Q159_SQL),
    "q160_sentence_stats": (q160_sentence_stats, Q160_SQL),
    "q161_template_prefixes": (q161_template_prefixes, Q161_SQL),
    "q162_length_percentiles": (q162_length_percentiles, Q162_SQL),
    "q163_incremental_exact_dedup": (q163_incremental_exact_dedup, Q163_SQL),
    "q164_ivf_balance": (q164_ivf_balance, Q164_SQL),
    "q165_pq_distortion": (q165_pq_distortion, Q165_SQL),
    "q166_char_class_profile": (q166_char_class_profile, Q166_SQL),
    "q167_source_vocab_overlap": (q167_source_vocab_overlap, Q167_SQL),
    "q168_event_rate_anomaly": (q168_event_rate_anomaly, Q168_SQL),
    "q169_token_burstiness": (q169_token_burstiness, Q169_SQL),
    "q170_cluster_spread": (q170_cluster_spread, Q170_SQL),
    "q171_band_bucket_stats": (q171_band_bucket_stats, Q171_SQL),
    "q172_quality_histogram": (q172_quality_histogram, Q172_SQL),
    "q173_readability": (q173_readability, Q173_SQL),
    "q174_kwic": (q174_kwic, Q174_SQL),
    "q175_lsh_pair_budget": (q175_lsh_pair_budget, Q175_SQL),
    "q176_centroid_distances": (q176_centroid_distances, Q176_SQL),
    "q177_sq8_error": (q177_sq8_error, Q177_SQL),
    "q178_embedding_integrity": (q178_embedding_integrity, Q178_SQL),
    "q179_token_df_spectrum": (q179_token_df_spectrum, Q179_SQL),
    "q180_source_dup_matrix": (q180_source_dup_matrix, Q180_SQL),
    "q181_chunk_plan": (q181_chunk_plan, Q181_SQL),
    "q182_band_config_sweep": (q182_band_config_sweep, Q182_SQL),
    "q183_shard_leakage": (q183_shard_leakage, Q183_SQL),
    "q184_dim_variance": (q184_dim_variance, Q184_SQL),
    "q185_packing_sweep": (q185_packing_sweep, Q185_SQL),
    "q186_dup_cluster_sizes": (q186_dup_cluster_sizes, Q186_SQL),
    "q187_corpus_delta": (q187_corpus_delta, Q187_SQL),
    "q188_norm_outliers": (q188_norm_outliers, Q188_SQL),
    "q189_len_quality_corr": (q189_len_quality_corr, Q189_SQL),
    "q190_kn_band_routing": (q190_kn_band_routing, Q190_SQL),
    "q193_vocab_drift": (q193_vocab_drift, Q193_SQL),
    "q194_dedup_adjusted_mixture": (q194_dedup_adjusted_mixture, Q194_SQL),
    "q195_containment_pairs": (q195_containment_pairs, Q195_SQL),
    "q196_ivf_probe_sweep": (q196_ivf_probe_sweep, Q196_SQL),
    "q197_template_suffixes": (q197_template_suffixes, Q197_SQL),
    "q198_snapshot_neardup": (q198_snapshot_neardup, Q198_SQL),
    "q199_gate_pass_rates": (q199_gate_pass_rates, Q199_SQL),
    "q200_budget_allocation": (q200_budget_allocation, Q200_SQL),
    "q201_source_containment_matrix": (
        q201_source_containment_matrix,
        Q201_SQL,
    ),
    "q202_shard_balance": (q202_shard_balance, Q202_SQL),
    "q203_component_cohesion": (q203_component_cohesion, Q203_SQL),
    "q210_lsh_pr": (q210_lsh_pr, Q210_SQL),
    "q212_graph_triangles": (q212_graph_triangles, Q212_SQL),
    "q215_clustering_coeff": (q215_clustering_coeff, Q215_SQL),
    "q219_neardup_survivorship": (q219_neardup_survivorship, Q219_SQL),
    "q220_head_share": (q220_head_share, Q220_SQL),
    "q222_zipf_curve": (q222_zipf_curve, Q222_SQL),
    "q223_effective_vocab": (q223_effective_vocab, Q223_SQL),
    "q224_class_weights": (q224_class_weights, Q224_SQL),
    "q225_reliability_bins": (q225_reliability_bins, Q225_SQL),
    "q227_degree_assortativity": (q227_degree_assortativity, Q227_SQL),
    "q232_stratified_split": (q232_stratified_split, Q232_SQL),
    "q235_balanced_sample": (q235_balanced_sample, Q235_SQL),
    "q238_cell_purity": (q238_cell_purity, Q238_SQL),
    "q240_kcore": (q240_kcore, Q240_SQL),
    "q242_lang_propagation": (q242_lang_propagation, Q242_SQL),
    "q243_cooc_window": (q243_cooc_window, Q243_SQL),
    "q245_pca_power": (q245_pca_power, Q245_SQL),
    "q246_rank_tau": (q246_rank_tau, Q246_SQL),
    "q248_hybrid_fusion": (q248_hybrid_fusion, Q248_SQL),
    "q254_pca_scores": (q254_pca_scores, Q254_SQL),
    "q255_exactsubstr": (q255_exactsubstr, Q255_SQL),
    "q256_chi2_keyness": (q256_chi2_keyness, Q256_SQL),
    "q257_edit_dups": (q257_edit_dups, Q257_SQL),
    "q261_rrf_fusion": (q261_rrf_fusion, Q261_SQL),
    "q267_gopher_rules": (q267_gopher_rules, Q267_SQL),
    "q276_budget_sample": (q276_budget_sample, Q276_SQL),
    "q281_cramers_v": (q281_cramers_v, Q281_SQL),
    "q283_brown_forsythe": (q283_brown_forsythe, Q283_SQL),
    "q284_cohens_kappa": (q284_cohens_kappa, Q284_SQL),
    "q285_calinski_harabasz": (q285_calinski_harabasz, Q285_SQL),
    "q286_davies_bouldin": (q286_davies_bouldin, Q286_SQL),
    "q298_silhouette": (q298_silhouette, Q298_SQL),
    "q301_curriculum_phases": (q301_curriculum_phases, Q301_SQL),
    "q304_fleiss_kappa": (q304_fleiss_kappa, Q304_SQL),
    "q308_score_auc": (q308_score_auc, Q308_SQL),
    "q309_brier_calibration": (q309_brier_calibration, Q309_SQL),
    "q287_temperature_mixture": (q287_temperature_mixture, Q287_SQL),
    "q288_dim_robust_scaling": (q288_dim_robust_scaling, Q288_SQL),
}
