"""Text-analysis suite (SURVEY.md §2.3 [EXT]) with DuckDB oracles.

Stopword lists and score weights are mirrored verbatim from
chroma_rs_spark.operators.text — keep them in sync.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from chroma_rs_spark.operators.text import (
    STOPWORDS,
    chunk_documents,
    doc_fingerprint,
    lang_id,
    quality_score,
    token_stats,
)
from chroma_rs_spark.session import local_frame
from chroma_rs_spark.sources.tables import load_table
from chroma_rs_spark.suite import QueryDef


def _sql_list(words: list[str]) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lang_id(load_table(spark, sf_dir, "documents"))


_LANG_SCORES = ",\n         ".join(
    f"len(list_intersect(uniq, {_sql_list(w)})) AS s_{lang}"
    for lang, w in STOPWORDS.items()
)
_LANG_BEST = "greatest(s_en, s_de, s_es, s_fr, s_zh)"
_LANG_ID_ORACLE = f"""
WITH scored AS (
  SELECT doc_id,
         {_LANG_SCORES}
  FROM (SELECT doc_id, list_distinct(string_split(text, ' ')) AS uniq
        FROM documents)
)
SELECT doc_id,
       CASE WHEN s_en = {_LANG_BEST} THEN 'en'
            WHEN s_de = {_LANG_BEST} THEN 'de'
            WHEN s_es = {_LANG_BEST} THEN 'es'
            WHEN s_fr = {_LANG_BEST} THEN 'fr'
            WHEN s_zh = {_LANG_BEST} THEN 'zh'
            ELSE 'unknown' END AS predicted_lang,
       CAST({_LANG_BEST} AS BIGINT) AS lang_score
FROM scored
"""


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_stats(load_table(spark, sf_dir, "documents"))


_TOKEN_STATS_ORACLE = """
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens_ws,
       CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+')) AS BIGINT) AS n_tokens_re,
       CAST(length(text) AS BIGINT) AS n_chars,
       round(CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
             / len(string_split(text, ' ')), 6) AS avg_token_len
FROM documents
"""


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_score(load_table(spark, sf_dir, "documents"))


_QUALITY_ORACLE = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
m AS (
  SELECT doc_id,
         len(toks) AS n,
         len(list_distinct(toks)) AS n_uniq,
         len(list_filter(toks, x -> list_contains({_sql_list(STOPWORDS["en"])}, x)))
             AS n_stop
  FROM t
)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_tokens,
       round(CAST(n_uniq AS DOUBLE) / n, 6) AS uniq_ratio,
       round(CAST(n_stop AS DOUBLE) / n, 6) AS stopword_ratio,
       round(0.5 * (CAST(n_uniq AS DOUBLE) / n)
             + 0.3 * (1.0 - CAST(n_stop AS DOUBLE) / n)
             + 0.2 * least(CAST(n AS DOUBLE) / 50.0, 1.0), 6) AS quality
FROM m
"""


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return doc_fingerprint(load_table(spark, sf_dir, "documents"), shingle_k=5)


_FINGERPRINT_ORACLE = """
WITH sh AS (
  SELECT doc_id,
         concat_ws(' ', toks[i], toks[i+1], toks[i+2], toks[i+3], toks[i+4])
             AS shingle
  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 3)) AS i
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents))
  WHERE toks[i] <> '' AND toks[i+1] <> '' AND toks[i+2] <> ''
    AND toks[i+3] <> '' AND toks[i+4] <> ''
)
SELECT doc_id, min(md5(shingle)) AS fingerprint
FROM sh GROUP BY doc_id
"""




CHUNK_SIZE = 32
CHUNK_OVERLAP = 4


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return chunk_documents(
        load_table(spark, sf_dir, "documents"),
        chunk_size=CHUNK_SIZE,
        overlap=CHUNK_OVERLAP,
    )


_CHUNK_STRIDE = CHUNK_SIZE - CHUNK_OVERLAP

_CHUNK_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
  WHERE text IS NOT NULL
),
starts AS (
  SELECT doc_id, t,
         unnest(generate_series(0,
                CAST(greatest(len(t) - {CHUNK_OVERLAP}, 1) - 1 AS BIGINT),
                {_CHUNK_STRIDE})) AS s
  FROM toks
)
SELECT doc_id,
       s // {_CHUNK_STRIDE} AS chunk_idx,
       array_to_string(list_slice(t, s + 1, s + {CHUNK_SIZE}), ' ') AS chunk_text,
       CAST(len(list_slice(t, s + 1, s + {CHUNK_SIZE})) AS BIGINT) AS n_tokens
FROM starts
"""


def q_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level token frequency: explode -> count -> top 50."""
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("token"))
        .limit(50)
    )


_TOP_TOKENS_ORACLE = """
SELECT t AS token, count(*) AS n
FROM documents, unnest(string_split(text, ' ')) u(t)
GROUP BY t
ORDER BY n DESC, token
LIMIT 50
"""


QUERIES = {
    "lang_id": QueryDef(q_lang_id, _LANG_ID_ORACLE),
    "quality_score": QueryDef(q_quality_score, _QUALITY_ORACLE),
}


# -- BM25 / packing (promoted into the declared 50 in round 3 so the
# -- driver's correctness gate sees them) ------------------------------

_BM25_TERMS = ["vector", "hash", "scan"]
_BM25_K1, _BM25_B = 1.2, 0.75


def q_bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from chroma_rs_spark.operators.text import bm25_scores

    return bm25_scores(
        load_table(spark, sf_dir, "documents"),
        _BM25_TERMS,
        k1=_BM25_K1,
        b=_BM25_B,
    )


def _bm25_oracle() -> str:
    # literals interpolated via repr() from the SAME Python floats the
    # Spark side uses, and every expression kept in the same
    # association order, so both engines run identical IEEE ops
    k1, b = _BM25_K1, _BM25_B
    tfs = ",\n         ".join(
        f"len(list_filter(string_split(text, ' '), x -> x = '{t}')) AS tf{i}"
        for i, t in enumerate(_BM25_TERMS)
    )
    dfs = ",\n         ".join(
        f"sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
        for i in range(len(_BM25_TERMS))
    )
    parts = "\n    + ".join(
        f"ln((N - df{i} + 0.5) / (df{i} + 0.5) + 1.0)"
        f" * (tf{i} * {k1 + 1.0!r}"
        f" / (tf{i} + {k1!r} * ({1.0 - b!r} + {b!r} * dl"
        " / (CAST(sdl AS DOUBLE) / N))))"
        for i in range(len(_BM25_TERMS))
    )
    return f"""
WITH per_doc AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS dl,
         {tfs}
  FROM documents
),
stats AS (
  SELECT count(*) AS N, sum(dl) AS sdl,
         {dfs}
  FROM per_doc
)
SELECT doc_id,
       round({parts}, 6) + 0.0 AS bm25
FROM per_doc CROSS JOIN stats
"""


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from chroma_rs_spark.operators.text import pack_sequences

    return pack_sequences(
        load_table(spark, sf_dir, "documents"), budget=2048, group_col="source"
    )


# all-integer window arithmetic — no float hazards to mirror. The sort
# the ROWS frame depends on is pinned on both engines: NULL text -> 0
# tokens, explicit NULLS FIRST (Spark's ASC default; DuckDB defaults
# NULLS LAST), n_tokens tie-break for duplicate ids.
_PACK_SEQUENCES_ORACLE = """
WITH base AS (
  SELECT doc_id, source AS grp,
         CASE WHEN length(coalesce(text, '')) = 0 THEN 0
              ELSE CAST(len(string_split(coalesce(text, ''), ' ')) AS BIGINT)
         END AS n_tokens
  FROM documents
),
s AS (
  -- CAST: DuckDB's windowed sum(BIGINT) returns HUGEINT, which Arrow
  -- serializes as decimal128(38,0) while Spark emits int64 — bit-identical
  -- values, type-mismatched hash (the round-3/4 driver red). Pin to BIGINT.
  SELECT doc_id, grp, n_tokens,
         CAST(coalesce(sum(n_tokens) OVER (PARTITION BY grp
             ORDER BY doc_id ASC NULLS FIRST, n_tokens ASC NULLS FIRST
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS start_offset
  FROM base
)
SELECT doc_id, grp, n_tokens, start_offset,
       CAST(floor(start_offset / 2048) AS BIGINT) AS bin,
       CAST(start_offset % 2048 AS BIGINT) AS offset_in_bin,
       (start_offset % 2048) + n_tokens <= 2048 AS fits
FROM s
"""


QUERIES.update(
    {
        "bm25_scores": QueryDef(q_bm25_scores, _bm25_oracle()),
        "pack_sequences": QueryDef(q_pack_sequences, _PACK_SEQUENCES_ORACLE),
    }
)


# -- curation additions ------------------------------------------------


def q_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from chroma_rs_spark.operators.text import repetition_signals

    return repetition_signals(load_table(spark, sf_dir, "documents"))


_REPETITION_ORACLE = """
WITH base AS (
  SELECT doc_id, text, length(text) AS chars,
         string_split(text, ' ') AS toks
  FROM documents
),
scal AS (
  SELECT doc_id, chars, len(toks) AS n_tokens,
         len(list_distinct(toks)) AS uniq
  FROM base
),
bg AS (
  SELECT doc_id, concat_ws(' ', toks[i], toks[i+1]) AS bgr
  FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM base)
),
per_bg AS (SELECT doc_id, bgr, count(*) AS bc FROM bg GROUP BY 1, 2),
bg_sums AS (
  SELECT doc_id, count(*) AS nbgd, sum(bc) AS nbg FROM per_bg GROUP BY 1
),
top_bg AS (
  SELECT doc_id, bc AS top_bc, CAST(length(bgr) AS BIGINT) AS top_len
  FROM (SELECT doc_id, bgr, bc,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY bc DESC, bgr) AS rk
        FROM per_bg)
  WHERE rk = 1
),
per_tok AS (
  SELECT doc_id, t, count(*) AS tc
  FROM (SELECT doc_id, unnest(toks) AS t FROM base)
  GROUP BY 1, 2
),
top_tok AS (
  SELECT doc_id, tc AS top_tc
  FROM (SELECT doc_id, tc,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY tc DESC, t) AS rk
        FROM per_tok)
  WHERE rk = 1
)
SELECT s.doc_id,
       CAST(s.n_tokens AS BIGINT) AS n_tokens,
       round(1.0 - CAST(s.uniq AS DOUBLE) / CAST(s.n_tokens AS DOUBLE), 6) + 0.0
           AS dup_token_frac,
       round(CAST(tt.top_tc AS DOUBLE) / CAST(s.n_tokens AS DOUBLE), 6) + 0.0
           AS top_token_frac,
       coalesce(round(1.0 - CAST(g.nbgd AS DOUBLE) / CAST(g.nbg AS DOUBLE), 6) + 0.0,
                0.0) AS dup_bigram_frac,
       coalesce(round(CAST(tb.top_len * tb.top_bc AS DOUBLE)
                      / CAST(s.chars AS DOUBLE), 6) + 0.0,
                0.0) AS top_bigram_char_frac
FROM scal s
LEFT JOIN bg_sums g USING (doc_id)
LEFT JOIN top_bg tb USING (doc_id)
JOIN top_tok tt USING (doc_id)
"""


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from chroma_rs_spark.operators.text import pii_scrub

    return pii_scrub(load_table(spark, sf_dir, "documents"))


def _pii_oracle() -> str:
    from chroma_rs_spark.operators.text import (
        PII_EMAIL_REGEX,
        PII_LONG_DIGITS_REGEX,
    )

    e, d = PII_EMAIL_REGEX, PII_LONG_DIGITS_REGEX
    escrub = f"regexp_replace(text, '{e}', '<EMAIL>', 'g')"
    scrub = f"regexp_replace({escrub}, '{d}', '<NUM>', 'g')"
    return f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{e}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all({escrub}, '{d}')) AS BIGINT) AS n_long_digits,
       md5({scrub}) AS scrubbed_md5,
       {scrub} <> text AS changed
FROM documents
"""


def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from chroma_rs_spark.operators.text import tfidf_topk

    return tfidf_topk(load_table(spark, sf_dir, "documents"), k=3)


_TFIDF_ORACLE = """
WITH tok AS (
  SELECT doc_id, t AS term
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       unnest(toks) u(t)
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
nd AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
SELECT doc_id, CAST(rank AS BIGINT) AS rank, term, tfidf FROM (
  SELECT tf.doc_id, tf.term,
         round(CAST(tf.tf AS DOUBLE)
               * (ln((1.0 + CAST(nd.n AS DOUBLE)) / (1.0 + CAST(dfq.df AS DOUBLE)))
                  + 1.0), 6) + 0.0 AS tfidf,
         row_number() OVER (
           PARTITION BY tf.doc_id
           ORDER BY round(CAST(tf.tf AS DOUBLE)
                    * (ln((1.0 + CAST(nd.n AS DOUBLE)) / (1.0 + CAST(dfq.df AS DOUBLE)))
                       + 1.0), 6) + 0.0 DESC, tf.term) AS rank
  FROM tf JOIN dfq USING (term) CROSS JOIN nd
)
WHERE rank <= 3
"""


QUERIES.update(
    {
        "repetition_signals": QueryDef(q_repetition_signals, _REPETITION_ORACLE),
        "tfidf_topk": QueryDef(q_tfidf_topk, _TFIDF_ORACLE),
    }
)

def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from chroma_rs_spark.operators.text import char_entropy

    return char_entropy(load_table(spark, sf_dir, "documents"))


# per-doc char counts; the entropy sum folds the CHAR-SORTED count
# list in order on both engines (list_sum ≡ Spark's left aggregate —
# the bm25/centroid oracle convention), + 0.0 folds the -0.0 of
# single-symbol docs. NULL/empty docs keep their row with zero counts
# and NULL entropy (the engine's unscorable convention) — no fabricated
# one-character distribution.
_CHAR_ENTROPY_ORACLE = """
WITH pos AS (
  SELECT doc_id, substr(text, CAST(i AS BIGINT), 1) AS c
  FROM documents, unnest(range(1, length(text) + 1)) t(i)
  WHERE length(text) > 0
),
counts AS (SELECT doc_id, c, count(*) AS n FROM pos GROUP BY doc_id, c),
per_doc AS (
  SELECT doc_id,
         list(n ORDER BY c) AS ns,
         sum(n) AS nc,
         count(*) AS nd
  FROM counts GROUP BY doc_id
)
SELECT doc_id,
       CAST(nc AS BIGINT) AS n_chars,
       CAST(nd AS INT) AS n_distinct_chars,
       round(-list_sum(list_transform(ns,
             x -> (CAST(x AS DOUBLE) / nc) * log2(CAST(x AS DOUBLE) / nc))),
             6) + 0.0 AS entropy_bits
FROM per_doc
UNION ALL
SELECT doc_id, CAST(0 AS BIGINT), CAST(0 AS INT), CAST(NULL AS DOUBLE)
FROM documents WHERE length(coalesce(text, '')) = 0
"""


QUERIES.update({"pii_scrub": QueryDef(q_pii_scrub, _pii_oracle())})

def q_duplicate_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate-span mining summary (Lee et al. ACL 2022
    substring-dedup primitive): per doc, how many strided 20-token
    spans are exact-duplicated in other documents."""
    from chroma_rs_spark.operators.text import duplicate_span_stats

    return duplicate_span_stats(
        load_table(spark, sf_dir, "documents"), span_tokens=20, stride=5
    )


# same tokens (non-empty split), same CONTENT-DEFINED anchor positions
# (md5-hash of the span's first token % stride == 0 — the winnowing
# trick; alignment-invariant, 0-based, inclusive last start), same
# md5-of-joined-span hash, exact distinct-doc counts; short/NULL docs
# keep a zero row with NULL ratio (the unscorable convention)
# shared occurrence/count CTE prefix for BOTH span oracles — one
# definition of tokenization, anchors and span hashes, so the detect
# and cut oracles can never drift apart (the copy-drift hazard
# operators/dedup.py:nonempty_tokens_col documents)
_SPAN_CHAIN = """
WITH base AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
  FROM documents
),
long_docs AS (SELECT doc_id, t FROM base WHERE len(t) >= 20),
occ AS (
  SELECT doc_id, CAST(i AS BIGINT) AS span_pos,
         md5(array_to_string(t[CAST(i AS BIGINT) + 1 : CAST(i AS BIGINT) + 20], ' ')) AS span_hash
  FROM (SELECT doc_id, t, unnest(range(0, len(t) - 20 + 1)) AS i
        FROM long_docs)
  WHERE CAST('0x' || substr(md5(t[CAST(i AS BIGINT) + 1]), 1, 8) AS BIGINT) % 5 = 0
),
cnt AS (
  SELECT span_hash, count(DISTINCT doc_id) AS n_docs FROM occ GROUP BY 1
)"""

_DUP_SPAN_ORACLE = _SPAN_CHAIN + """,
per_doc AS (
  SELECT o.doc_id,
         count(*) AS n_spans,
         sum(CASE WHEN c.n_docs >= 2 THEN 1 ELSE 0 END) AS n_dup
  FROM occ o JOIN cnt c USING (span_hash)
  GROUP BY 1
)
SELECT d.doc_id,
       CAST(coalesce(p.n_spans, 0) AS BIGINT) AS n_spans,
       CAST(coalesce(p.n_dup, 0) AS BIGINT) AS n_dup_spans,
       CASE WHEN p.n_spans > 0
            THEN round(CAST(p.n_dup AS DOUBLE) / p.n_spans, 6) + 0.0
       END AS dup_ratio
FROM documents d LEFT JOIN per_doc p USING (doc_id)
"""


def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-unigram-LM perplexity per document (the CCNet-style
    quality filter) — add-0.5 smoothing, position-ordered ln folds."""
    from chroma_rs_spark.operators.text import lm_perplexity

    return lm_perplexity(load_table(spark, sf_dir, "documents"))


# same non-empty tokens, same 0-based positions, same smoothed
# probabilities over integer counts, same position-ordered ln fold
# (list_sum ≡ Spark's left aggregate), same round-then-exp-then-round;
# NULL/empty docs keep a zero row with NULL scores
_LM_PERPLEXITY_ORACLE = """
WITH base AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
  FROM documents
),
tok AS (
  SELECT doc_id, CAST(i - 1 AS INT) AS pos, t[CAST(i AS BIGINT)] AS tk
  FROM base, unnest(range(1, len(t) + 1)) r(i)
),
vocab AS (SELECT tk, count(*) AS cnt FROM tok GROUP BY tk),
tot AS (SELECT sum(cnt) AS n, count(*) AS v FROM vocab),
scored AS (
  SELECT k.doc_id,
         count(*) AS n_tokens,
         list(ln((v.cnt + 0.5) / (t.n + 0.5 * t.v)) ORDER BY k.pos) AS lps
  FROM tok k JOIN vocab v USING (tk) CROSS JOIN tot t
  GROUP BY k.doc_id
),
per AS (
  SELECT doc_id, n_tokens,
         round(list_sum(lps) / n_tokens, 6) + 0.0 AS avg_logp
  FROM scored
)
SELECT d.doc_id,
       CAST(coalesce(p.n_tokens, 0) AS BIGINT) AS n_tokens,
       p.avg_logp,
       round(exp(-p.avg_logp), 6) + 0.0 AS perplexity
FROM documents d LEFT JOIN per p USING (doc_id)
"""


def q_remove_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The substring-dedup CUT: every duplicated anchored span removed
    except its globally-first occurrence (Lee et al.'s measured-better
    alternative to dropping whole near-dup documents)."""
    from chroma_rs_spark.operators.text import remove_duplicate_spans

    return remove_duplicate_spans(
        load_table(spark, sf_dir, "documents"), span_tokens=20, stride=5
    )


# the shared _SPAN_CHAIN, then: keeper = first (doc, pos) per span via
# row_number; a token is cut iff a removal start covers it AND no
# keeper interval does (keeper occurrences are inviolate); text
# reassembles as the ordered space-join of survivors (tokenized-text
# convention — NULL text stays NULL, fully-covered/empty docs become '')
_REMOVE_SPANS_ORACLE = _SPAN_CHAIN + """,
dup AS (
  SELECT o.doc_id, o.span_pos, o.span_hash
  FROM occ o JOIN cnt c USING (span_hash) WHERE c.n_docs >= 2
),
keeper AS (
  SELECT span_hash, doc_id, span_pos
  FROM (SELECT *, row_number() OVER (PARTITION BY span_hash
                                     ORDER BY doc_id, span_pos) AS rn
        FROM dup)
  WHERE rn = 1
),
removals AS (
  SELECT d.doc_id, d.span_pos
  FROM dup d JOIN keeper k ON d.span_hash = k.span_hash
  WHERE NOT (d.doc_id = k.doc_id AND d.span_pos = k.span_pos)
),
tokpos AS (
  SELECT doc_id, CAST(i - 1 AS BIGINT) AS p, t[CAST(i AS BIGINT)] AS tk
  FROM base, unnest(range(1, len(t) + 1)) r(i)
),
keeps AS (
  SELECT doc_id, span_pos FROM keeper
),
cov AS (
  -- cut iff removal-covered AND NOT keeper-covered: keeper intervals
  -- are inviolate (the one preserved copy of every duplicated span)
  SELECT tp.doc_id, tp.p, tp.tk,
         count(DISTINCT rm.span_pos) > 0
         AND count(DISTINCT kp.span_pos) = 0 AS covered
  FROM tokpos tp
  LEFT JOIN removals rm
    ON rm.doc_id = tp.doc_id
   AND tp.p >= rm.span_pos AND tp.p < rm.span_pos + 20
  LEFT JOIN keeps kp
    ON kp.doc_id = tp.doc_id
   AND tp.p >= kp.span_pos AND tp.p < kp.span_pos + 20
  GROUP BY tp.doc_id, tp.p, tp.tk
),
agg AS (
  SELECT doc_id,
         count(*) AS n_all,
         string_agg(tk, ' ' ORDER BY p) FILTER (WHERE NOT covered)
             AS clean_text,
         sum(CASE WHEN covered THEN 1 ELSE 0 END) AS n_rm
  FROM cov GROUP BY doc_id
)
SELECT b.doc_id,
       CASE WHEN b.t IS NULL THEN NULL
            ELSE CAST(coalesce(a.n_all, 0) AS BIGINT) END AS n_tokens,
       CASE WHEN b.t IS NULL THEN NULL
            ELSE CAST(coalesce(a.n_rm, 0) AS BIGINT) END AS n_tokens_removed,
       CASE WHEN b.t IS NULL THEN NULL
            ELSE coalesce(a.clean_text, '') END AS clean_text
FROM base b LEFT JOIN agg a USING (doc_id)
"""


QUERIES.update(
    {
        "remove_duplicate_spans": QueryDef(
            q_remove_duplicate_spans, _REMOVE_SPANS_ORACLE
        ),
        "lm_perplexity": QueryDef(q_lm_perplexity, _LM_PERPLEXITY_ORACLE),
        "duplicate_span_stats": QueryDef(
            q_duplicate_span_stats, _DUP_SPAN_ORACLE
        ),
        "char_entropy": QueryDef(q_char_entropy, _CHAR_ENTROPY_ORACLE),
    }
)



def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from chroma_rs_spark.operators.text import gopher_quality

    return gopher_quality(load_table(spark, sf_dir, "documents"))


def _gopher_oracle() -> str:
    from chroma_rs_spark.operators.text import (
        GOPHER_MAX_MEAN_WORD_LEN,
        GOPHER_MAX_SYMBOL_RATIO,
        GOPHER_MAX_WORDS,
        GOPHER_MIN_ALPHA_WORD_FRAC,
        GOPHER_MIN_MEAN_WORD_LEN,
        GOPHER_MIN_STOPWORD_HITS,
        GOPHER_MIN_WORDS,
        GOPHER_STOPWORDS,
    )

    stop = ", ".join(f"'{w}'" for w in GOPHER_STOPWORDS)
    return f"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split(coalesce(text, ''), ' '), x -> x <> '')
             AS toks,
         coalesce(text, '') AS txt
  FROM documents
),
m AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_words,
         CASE WHEN len(toks) > 0 THEN
           round(CAST(list_sum(list_transform(toks, x -> length(x)))
                      AS DOUBLE) / len(toks), 6)
         END AS mean_word_len,
         CASE WHEN len(toks) > 0 THEN
           round(CAST(len(regexp_extract_all(txt, '#'))
                      + len(regexp_extract_all(txt, '\\.\\.\\.'))
                      AS DOUBLE) / len(toks), 6)
         END AS symbol_ratio,
         CASE WHEN len(toks) > 0 THEN
           round(CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-zA-Z]')))
                      AS DOUBLE) / len(toks), 6)
         END AS alpha_word_frac,
         CAST(len(list_intersect(list_distinct(toks), [{stop}]))
              AS BIGINT) AS stopword_hits
  FROM t
)
SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_word_frac,
       stopword_hits,
       coalesce(n_words >= {GOPHER_MIN_WORDS}
                AND n_words <= {GOPHER_MAX_WORDS}
                AND mean_word_len >= {GOPHER_MIN_MEAN_WORD_LEN}
                AND mean_word_len <= {GOPHER_MAX_MEAN_WORD_LEN}
                AND symbol_ratio <= {GOPHER_MAX_SYMBOL_RATIO}
                AND alpha_word_frac >= {GOPHER_MIN_ALPHA_WORD_FRAC}
                AND stopword_hits >= {GOPHER_MIN_STOPWORD_HITS},
                false) AS passes
FROM m
"""


# the Gopher pre-filter rules (Rae et al. 2021 A1.1)
QUERIES["gopher_quality"] = QueryDef(q_gopher_quality, _gopher_oracle())

QUERIES.update(
    {
        "top_tokens": QueryDef(q_top_tokens, _TOP_TOKENS_ORACLE),
        "chunk_documents": QueryDef(q_chunk_documents, _CHUNK_ORACLE),
        "token_stats": QueryDef(q_token_stats, _TOKEN_STATS_ORACLE),
        "doc_fingerprint": QueryDef(q_doc_fingerprint, _FINGERPRINT_ORACLE),
    }
)


# ---------------------------------------------------------------------------
# Shared LINE-structured corpus derivation (round 6). The raw documents
# table is single-line token soup, so the line-level operators
# (line_dedup, c4_filters) derive a deterministic multi-line corpus:
# tokens regrouped into 8-token lines (line i gains a terminal '.'
# unless (doc_id + i) % 3 = 0), a boilerplate header by doc_id % 3 and
# footer by doc_id % 2 (the cross-document duplicated lines CCNet-style
# dedup must remove), plus planted 'lorem ipsum' (every 97th doc) and a
# brace/javascript line (every 89th) for the C4 page rules — the same
# planted-structure pattern as split_contamination's planted leaks.
# Spark builder and DuckDB CTE are defined SIDE BY SIDE so they cannot
# drift (the _SPAN_CHAIN discipline).
# ---------------------------------------------------------------------------

_LINED_HEADER = (
    "CASE CAST(doc_id % 3 AS INT)"
    " WHEN 0 THEN 'Subscribe to our newsletter today.'"
    " WHEN 1 THEN 'all rights reserved worldwide'"
    " ELSE 'Click here to accept cookies now.' END"
)
_LINED_FOOTER = (
    "CASE WHEN doc_id % 2 = 0 THEN 'copyright acme corp'"
    " ELSE 'Privacy policy and terms of service.' END"
)


def lined_corpus(df: DataFrame) -> DataFrame:
    """(doc_id, text) with newline-separated lines; NULL text stays
    NULL so the unscorable convention flows through the line ops."""
    expr = (
        "CASE WHEN text IS NULL THEN NULL ELSE array_join(concat("
        "  array(" + _LINED_HEADER + "),"
        "  CASE WHEN size(_t) = 0 THEN CAST(array() AS ARRAY<STRING>)"
        "       ELSE transform(sequence(0, CAST((size(_t) - 1) DIV 8 AS INT)),"
        "            i -> concat(array_join(slice(_t, i * 8 + 1, 8), ' '),"
        "                 CASE WHEN (doc_id + i) % 3 = 0 THEN '' ELSE '.' END))"
        "  END,"
        "  array(" + _LINED_FOOTER + "),"
        "  CASE WHEN doc_id % 97 = 0 THEN array('lorem ipsum dolor sit amet.')"
        "       ELSE CAST(array() AS ARRAY<STRING>) END,"
        "  CASE WHEN doc_id % 89 = 0 THEN"
        "       array('function f() { return javascript magic }')"
        "       ELSE CAST(array() AS ARRAY<STRING>) END"
        "), char(10)) END"
    )
    from chroma_rs_spark.operators.dedup import nonempty_tokens_col

    return df.select(
        "doc_id",
        F.coalesce(nonempty_tokens_col("text"), F.array()).alias("_t"),
        "text",
    ).selectExpr("doc_id", expr + " AS text")


LINE_CORPUS_CTE = (
    "lc_base AS ("
    "  SELECT doc_id, text,"
    "         list_filter(string_split(coalesce(text, ''), ' '), x -> x <> '') AS _t"
    "  FROM documents"
    "), corpus AS ("
    "  SELECT doc_id,"
    "  CASE WHEN text IS NULL THEN NULL ELSE array_to_string("
    "    [" + _LINED_HEADER + "]"
    "    || CASE WHEN len(_t) = 0 THEN CAST([] AS VARCHAR[])"
    "            ELSE list_transform(range(0, (len(_t) - 1) // 8 + 1),"
    "                 i -> array_to_string(_t[CAST(i * 8 + 1 AS BIGINT):CAST(i * 8 + 8 AS BIGINT)], ' ')"
    "                      || CASE WHEN (doc_id + i) % 3 = 0 THEN '' ELSE '.' END)"
    "       END"
    "    || [" + _LINED_FOOTER + "]"
    "    || CASE WHEN doc_id % 97 = 0 THEN ['lorem ipsum dolor sit amet.']"
    "            ELSE CAST([] AS VARCHAR[]) END"
    "    || CASE WHEN doc_id % 89 = 0 THEN"
    "            ['function f() { return javascript magic }']"
    "            ELSE CAST([] AS VARCHAR[]) END,"
    "  chr(10)) END AS text"
    "  FROM lc_base)"
)


def q_c4_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 cleaning heuristics (Raffel et al. JMLR 2020 §2.2) over the
    derived line-structured corpus."""
    from chroma_rs_spark.operators.text import c4_filters

    return c4_filters(lined_corpus(load_table(spark, sf_dir, "documents")))


# same line split, same terminal/word-count/javascript line predicate,
# same kept-text sentence count, same page rules; NULL text keeps its
# row with NULL stats and passes=false
_C4_FILTERS_ORACLE = (
    "WITH " + LINE_CORPUS_CTE + ",\n"
    "l AS (SELECT doc_id, text, string_split(text, chr(10)) AS ls FROM corpus),\n"
    "k AS (SELECT doc_id, text, ls,\n"
    "        list_filter(ls, x -> right(trim(x), 1) IN ('.', '!', '?', '\"')\n"
    "            AND len(list_filter(string_split(trim(x), ' '), w -> w <> '')) >= 5\n"
    "            AND NOT contains(lower(x), 'javascript')) AS kept\n"
    "      FROM l),\n"
    "s AS (SELECT doc_id, text,\n"
    "        CASE WHEN text IS NOT NULL THEN CAST(len(ls) AS BIGINT) END AS n_lines,\n"
    "        CASE WHEN text IS NOT NULL THEN CAST(len(kept) AS BIGINT) END AS n_lines_kept,\n"
    # coalesce: DuckDB's array_to_string over an EMPTY kept list yields
    # NULL, Spark's array_join yields '' (adversarial doc with zero kept
    # lines, round-7) — pin the Spark convention
    "        CASE WHEN text IS NOT NULL THEN"
    " coalesce(array_to_string(kept, chr(10)), '') END AS text_clean\n"
    "      FROM k)\n"
    "SELECT doc_id, n_lines, n_lines_kept,\n"
    "       CASE WHEN text IS NOT NULL THEN\n"
    "         CAST(len(regexp_extract_all(text_clean, '[.!?\"]')) AS BIGINT)\n"
    "       END AS n_sentences,\n"
    "       coalesce(contains(lower(text), 'lorem ipsum'), false) AS has_lorem_ipsum,\n"
    "       coalesce(contains(text, '{'), false) AS has_brace,\n"
    "       coalesce(CASE WHEN text IS NOT NULL THEN\n"
    "                  CAST(len(regexp_extract_all(text_clean, '[.!?\"]')) AS BIGINT)\n"
    "                END >= 3, false)\n"
    "         AND NOT coalesce(contains(lower(text), 'lorem ipsum'), false)\n"
    "         AND NOT coalesce(contains(text, '{'), false) AS passes,\n"
    "       text_clean\n"
    "FROM s"
)

# C4 line/page cleaning
QUERIES["c4_filters"] = QueryDef(q_c4_filters, _C4_FILTERS_ORACLE)


# ---------------------------------------------------------------------------
# round 7: the Gopher REPETITION rules (Rae et al. 2021 Table A1) — the
# other half of the Gopher filter (gopher_quality is the quality half)
# ---------------------------------------------------------------------------


def q_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from chroma_rs_spark.operators.text import gopher_repetition

    return gopher_repetition(load_table(spark, sf_dir, "documents"))


def _gopher_repetition_oracle() -> str:
    """Full SQL replay of all 13 repetition fractions: unit stats from
    per-(doc, unit) counts, top-n-gram via a (count DESC, gram ASC)
    row_number, duplicated-n-gram character coverage via DISTINCT
    covered token positions (each character counted once, the paper's
    rule); same tokenization, same trimmed-unit identity, same round-6
    discipline as the engine kernel."""
    from chroma_rs_spark.operators.text import (
        GOPHER_REP_MAX_DUP_LINE_CHAR_FRAC,
        GOPHER_REP_MAX_DUP_LINE_FRAC,
        GOPHER_REP_MAX_DUP_NGRAM_CHAR_FRAC,
        GOPHER_REP_MAX_DUP_PARA_CHAR_FRAC,
        GOPHER_REP_MAX_DUP_PARA_FRAC,
        GOPHER_REP_MAX_TOP_NGRAM_CHAR_FRAC,
    )

    def gram(nn: int) -> str:
        return "concat_ws(' ', " + ", ".join(
            f"t[i+{j}]" for j in range(nn)
        ) + ")"

    ctes = [
        """base AS (
  SELECT doc_id, text,
         list_filter(string_split(text, ' '), x -> x <> '') AS t
  FROM documents
)""",
        """tokpos AS (
  SELECT doc_id, CAST(i AS BIGINT) AS p, t[CAST(i AS BIGINT)] AS tk
  FROM base, unnest(range(1, len(t) + 1)) r(i)
  WHERE text IS NOT NULL
)""",
        """lunits AS (
  SELECT doc_id, u FROM (
    SELECT doc_id, trim(x) AS u FROM (
      SELECT doc_id, unnest(string_split(text, chr(10))) AS x
      FROM base WHERE text IS NOT NULL)
  ) WHERE u <> ''
)""",
        """punits AS (
  SELECT doc_id, u FROM (
    SELECT doc_id, trim(x) AS u FROM (
      SELECT doc_id, unnest(string_split(text, chr(10) || chr(10))) AS x
      FROM base WHERE text IS NOT NULL)
  ) WHERE u <> ''
)""",
    ]
    for tag, src in (("lstat", "lunits"), ("pstat", "punits")):
        ctes.append(f"""{tag} AS (
  SELECT doc_id,
         CAST(sum(c) AS BIGINT) AS total,
         CAST(sum(c) - count(*) AS BIGINT) AS dups,
         CAST(sum((c - 1) * length(u)) AS BIGINT) AS dup_chars,
         CAST(sum(c * length(u)) AS BIGINT) AS tot_chars
  FROM (SELECT doc_id, u, count(*) AS c FROM {src} GROUP BY 1, 2)
  GROUP BY doc_id
)""")
    for nn in (2, 3, 4):
        ctes.append(f"""top{nn} AS (
  SELECT doc_id, CAST(length(g) * c AS BIGINT) AS chars
  FROM (
    SELECT doc_id, g, count(*) AS c,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY count(*) DESC, g ASC) AS rn
    FROM (SELECT doc_id, {gram(nn)} AS g
          FROM (SELECT doc_id, t, unnest(range(1, len(t) - {nn - 2})) AS i
                FROM base WHERE text IS NOT NULL))
    GROUP BY doc_id, g
  ) WHERE rn = 1
)""")
    for nn in range(5, 11):
        ctes.append(f"""occ{nn} AS (
  SELECT doc_id, CAST(i AS BIGINT) AS s, {gram(nn)} AS g
  FROM (SELECT doc_id, t, unnest(range(1, len(t) - {nn - 2})) AS i
        FROM base WHERE text IS NOT NULL)
)""")
        ctes.append(f"""cov{nn} AS (
  SELECT doc_id, CAST(sum(length(tk)) AS BIGINT) AS chars FROM (
    SELECT DISTINCT tp.doc_id, tp.p, tp.tk
    FROM tokpos tp
    JOIN (SELECT o.doc_id, o.s FROM occ{nn} o
          JOIN (SELECT doc_id, g FROM occ{nn}
                GROUP BY 1, 2 HAVING count(*) >= 2) d
            ON o.doc_id = d.doc_id AND o.g = d.g) dd
      ON dd.doc_id = tp.doc_id AND tp.p >= dd.s AND tp.p < dd.s + {nn}
  ) GROUP BY doc_id
)""")

    def unit_frac(alias: str, num: str, den: str) -> str:
        return (
            f"CASE WHEN b.text IS NULL THEN NULL"
            f" WHEN {alias}.total IS NULL THEN 0.0"
            f" ELSE round(CAST({alias}.{num} AS DOUBLE) / {alias}.{den}, 6)"
            f" + 0.0 END"
        )

    def char_frac(alias: str) -> str:
        return (
            f"CASE WHEN b.text IS NULL THEN NULL"
            f" WHEN {alias}.chars IS NULL THEN 0.0"
            f" ELSE round(CAST({alias}.chars AS DOUBLE) / length(b.text), 6)"
            f" + 0.0 END"
        )

    fracs = [
        ("dup_line_frac", unit_frac("ls", "dups", "total"),
         GOPHER_REP_MAX_DUP_LINE_FRAC),
        ("dup_line_char_frac", unit_frac("ls", "dup_chars", "tot_chars"),
         GOPHER_REP_MAX_DUP_LINE_CHAR_FRAC),
        ("dup_para_frac", unit_frac("ps", "dups", "total"),
         GOPHER_REP_MAX_DUP_PARA_FRAC),
        ("dup_para_char_frac", unit_frac("ps", "dup_chars", "tot_chars"),
         GOPHER_REP_MAX_DUP_PARA_CHAR_FRAC),
    ]
    for nn in (2, 3, 4):
        fracs.append((
            f"top_{nn}gram_char_frac", char_frac(f"t{nn}"),
            GOPHER_REP_MAX_TOP_NGRAM_CHAR_FRAC[nn],
        ))
    for nn in range(5, 11):
        fracs.append((
            f"dup_{nn}gram_char_frac", char_frac(f"c{nn}"),
            GOPHER_REP_MAX_DUP_NGRAM_CHAR_FRAC[nn],
        ))
    select_cols = ",\n       ".join(
        f"{expr} AS {name}" for name, expr, _ in fracs
    )
    passes = " AND ".join(f"({expr}) <= {cap}" for _, expr, cap in fracs)
    joins = (
        "LEFT JOIN lstat ls USING (doc_id)\n"
        "LEFT JOIN pstat ps USING (doc_id)\n"
        + "\n".join(
            f"LEFT JOIN top{nn} t{nn} ON t{nn}.doc_id = b.doc_id"
            for nn in (2, 3, 4)
        )
        + "\n"
        + "\n".join(
            f"LEFT JOIN cov{nn} c{nn} ON c{nn}.doc_id = b.doc_id"
            for nn in range(5, 11)
        )
    )
    return (
        "WITH " + ",\n".join(ctes) + f"""
SELECT b.doc_id,
       CAST(CASE WHEN b.text IS NULL THEN 0 ELSE len(b.t) END AS BIGINT)
           AS n_tokens,
       {select_cols},
       CASE WHEN b.text IS NULL THEN false ELSE ({passes}) END AS passes
FROM base b
{joins}
"""
    )


QUERIES["gopher_repetition"] = QueryDef(
    q_gopher_repetition, _gopher_repetition_oracle()
)


# ---------------------------------------------------------------------------
# round 8: URL-level dedup (RefinedWeb §3.2 / CCNet stage 1) — the first
# dedup stage of the public curation pipelines, previously missing.
# URLs are DERIVED deterministically from the documents table (the
# lined_corpus/twin-corpus pattern) so that every canonicalization rule
# has planted cases: doc pairs (2j, 2j+1) fetch the SAME page through
# different transport noise (host case, default port, fragment,
# tracking params, parameter order, trailing slash) and must collapse
# to one canonical key; every 10th doc gets a scheme-less string that
# must pass through untouched.
# ---------------------------------------------------------------------------


def _derived_url_col():
    # host/path derive from PAGE (= doc_id // 2), NOT from the row's
    # own source/lang columns — pair members (2j, 2j+1) must fetch the
    # SAME page (the first draft used per-row source/lang and silently
    # produced zero duplicate groups; caught by the end-to-end drive)
    page = (F.col("doc_id") / 2).cast("long")
    scheme = F.when(page % 2 == 0, F.lit("https")).otherwise(F.lit("http"))
    site = F.concat(F.lit("s"), page % 7)
    clean_host = F.concat(F.lit("www."), site, F.lit(".example.com"))
    noisy_host = F.concat(
        F.lit("WWW."),
        F.upper(site),
        F.lit(".Example.COM"),
        F.when(page % 2 == 0, F.lit(":443")).otherwise(F.lit(":80")),
    )
    path = F.concat(F.lit("/docs/p"), page)
    clean_q = F.lit("?a=1&b=2")
    noisy = F.concat(
        scheme, F.lit("://"), noisy_host, path, F.lit("/"),
        F.lit("?b=2&utm_source=feed&a=1&fbclid=XYZ"), F.lit("#frag"),
    )
    clean = F.concat(scheme, F.lit("://"), clean_host, path, clean_q)
    schemeless = F.concat(F.lit("www.bare/"), page, F.lit("#frag"))
    return (
        F.when(F.col("doc_id") % 10 == 9, schemeless)
        .when(F.col("doc_id") % 2 == 1, noisy)
        .otherwise(clean)
    )


def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from chroma_rs_spark.operators.text import url_dedup

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source"
    )
    return url_dedup(docs.withColumn("url", _derived_url_col())).select(
        "doc_id", "url", "canonical_url", "keep"
    )


_URL_TRACKING = (
    "'utm_source', 'utm_medium', 'utm_campaign', 'utm_term', "
    "'utm_content', 'gclid', 'fbclid', 'ref'"
)

_URL_DEDUP_ORACLE = f"""
WITH src AS (
  SELECT doc_id,
         CASE
           WHEN doc_id % 10 = 9 THEN
             concat('www.bare/', CAST(doc_id // 2 AS VARCHAR), '#frag')
           WHEN doc_id % 2 = 1 THEN
             concat(
               CASE WHEN (doc_id // 2) % 2 = 0 THEN 'https' ELSE 'http' END,
               '://WWW.S', CAST((doc_id // 2) % 7 AS VARCHAR), '.Example.COM',
               CASE WHEN (doc_id // 2) % 2 = 0 THEN ':443' ELSE ':80' END,
               '/docs/p', CAST(doc_id // 2 AS VARCHAR),
               '/', '?b=2&utm_source=feed&a=1&fbclid=XYZ', '#frag')
           ELSE
             concat(
               CASE WHEN (doc_id // 2) % 2 = 0 THEN 'https' ELSE 'http' END,
               '://www.s', CAST((doc_id // 2) % 7 AS VARCHAR), '.example.com',
               '/docs/p', CAST(doc_id // 2 AS VARCHAR),
               '?a=1&b=2')
         END AS url
  FROM documents
),
c1 AS (
  SELECT doc_id, url,
         regexp_replace(trim(url), '#.*$', '') AS u0
  FROM src
),
c2 AS (
  SELECT *,
         lower(regexp_extract(u0, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
         regexp_replace(u0, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
  FROM c1
),
c3 AS (
  SELECT *,
         lower(regexp_extract(rest, '^([^/?]*)', 1)) AS hostport,
         regexp_replace(rest, '^[^/?]*', '') AS path_q
  FROM c2
),
c4 AS (
  SELECT *,
         CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
              WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
              ELSE hostport END AS host,
         regexp_extract(path_q, '^([^?]*)', 1) AS raw_path,
         regexp_extract(path_q, '\\?(.*)$', 1) AS query
  FROM c3
),
c5 AS (
  SELECT *,
         CASE WHEN raw_path = '' THEN '/'
              WHEN raw_path <> '/' THEN regexp_replace(raw_path, '/$', '')
              ELSE raw_path END AS path,
         array_to_string(
           list_sort(
             list_filter(
               string_split(query, '&'),
               p -> p <> '' AND NOT list_contains(
                 [{_URL_TRACKING}], string_split(p, '=')[1])
             )
           ), '&') AS sorted_q
  FROM c4
),
canon AS (
  SELECT doc_id, url,
         CASE WHEN scheme = '' THEN u0
              ELSE concat(scheme, '://', host, path,
                          CASE WHEN sorted_q <> ''
                               THEN concat('?', sorted_q) ELSE '' END)
         END AS canonical_url
  FROM c5
),
keeper AS (
  SELECT canonical_url, min(doc_id) AS keep_id
  FROM canon WHERE canonical_url IS NOT NULL GROUP BY 1
)
SELECT c.doc_id, c.url, c.canonical_url,
       CASE WHEN c.canonical_url IS NULL THEN TRUE
            ELSE c.doc_id = k.keep_id END AS keep
FROM canon c LEFT JOIN keeper k USING (canonical_url)
"""

QUERIES["url_dedup"] = QueryDef(q_url_dedup, _URL_DEDUP_ORACLE)


def q_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid-backoff bigram LM quality score (Brants et al. 2007),
    trained on the deterministic md5 held-in half, scoring every doc —
    the bigram upgrade of the CCNet-style `lm_perplexity` filter."""
    from chroma_rs_spark.operators.text import bigram_perplexity

    return bigram_perplexity(load_table(spark, sf_dir, "documents"))


# same non-empty tokens, same md5 train-half bucket as
# deterministic_sample's oracle, same count ratios over the train half,
# same single-ln backoff product alpha * ((c2+k)/(N+kV)), same
# position-ordered ln fold (list_sum over ORDER BY pos), same
# round-then-exp-then-round; <2-token docs keep a zero row with NULL
# scores. train_frac=0.5 -> cutoff 5000 of the 10000 md5 buckets.
_BIGRAM_PERPLEXITY_ORACLE = """
WITH base AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), x -> x <> '') AS t,
         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
           % 10000 < 5000 AS is_train
  FROM documents
),
train_tok AS (
  SELECT t[CAST(i AS BIGINT)] AS tk
  FROM base, unnest(range(1, len(t) + 1)) r(i)
  WHERE is_train
),
uni AS (SELECT tk, count(*) AS c FROM train_tok GROUP BY tk),
tot AS (
  SELECT coalesce(sum(c), 0) AS n, count(*) AS v FROM uni
),
trans AS (
  SELECT doc_id, is_train, CAST(i - 1 AS INT) AS pos,
         t[CAST(i AS BIGINT)] AS w1, t[CAST(i + 1 AS BIGINT)] AS w2
  FROM base, unnest(range(1, len(t))) r(i)
),
bg AS (
  SELECT w1, w2, count(*) AS cb FROM trans WHERE is_train GROUP BY w1, w2
),
scored AS (
  SELECT tr.doc_id,
         count(*) AS n_transitions,
         sum(CASE WHEN b.cb IS NOT NULL THEN 0 ELSE 1 END) AS n_backoff,
         list(CASE WHEN t.n = 0 THEN NULL
                   WHEN b.cb IS NOT NULL
                   THEN ln(CAST(b.cb AS DOUBLE) / CAST(u1.c AS DOUBLE))
                   ELSE ln(0.4 * ((CAST(coalesce(u2.c, 0) AS DOUBLE) + 0.5)
                                  / (CAST(t.n AS DOUBLE)
                                     + 0.5 * CAST(t.v AS DOUBLE))))
              END ORDER BY tr.pos) AS lps
  FROM trans tr
  LEFT JOIN bg b ON tr.w1 = b.w1 AND tr.w2 = b.w2
  LEFT JOIN uni u1 ON tr.w1 = u1.tk
  LEFT JOIN uni u2 ON tr.w2 = u2.tk
  CROSS JOIN tot t
  GROUP BY tr.doc_id
),
per AS (
  SELECT doc_id, n_transitions, n_backoff,
         round(list_sum(lps) / n_transitions, 6) + 0.0 AS avg_logscore
  FROM scored
)
SELECT d.doc_id,
       CAST(coalesce(p.n_transitions, 0) AS BIGINT) AS n_transitions,
       CAST(coalesce(p.n_backoff, 0) AS BIGINT) AS n_backoff,
       p.avg_logscore,
       round(exp(-p.avg_logscore), 6) + 0.0 AS perplexity
FROM documents d LEFT JOIN per p USING (doc_id)
"""

QUERIES["bigram_perplexity"] = QueryDef(
    q_bigram_perplexity, _BIGRAM_PERPLEXITY_ORACLE
)


# ---------------------------------------------------------------------------
# Synthetic raw-HTML corpus (round 8). The documents table is extracted
# text, so the html_extract_text query wraps each doc back into a full
# HTML page — title/style/script head (the script plants `1 < 2` and a
# fake "</p>" inside a string literal, the two classic tag-stripper
# traps), a comment, an <h1> with escaped angle entities, the doc text
# split across two <p> blocks, planted &quot;/&#39; entities and a <br/>
# + footer <div>. Spark builder and DuckDB CTE are side by side so they
# cannot drift (the lined_corpus discipline).
# ---------------------------------------------------------------------------


def q_html_extract_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-stage-0 HTML -> visible text extraction over a deterministic
    raw-HTML wrapping of every document: script/style/comment blocks
    dropped, block closes -> line breaks, entities decoded, whitespace
    normalized — all as one map-side column-expression pass."""
    from chroma_rs_spark.operators.text import html_extract_text

    docs = load_table(spark, sf_dir, "documents")
    # character-midpoint halves via substring: pure codegen arithmetic
    # (the earlier split/filter/slice HOF chain ran interpreted and
    # cost ~35% of the row's wall; a mid-word split is harmless — the
    # extractor's own whitespace normalization treats the two parts as
    # separate lines on both engines)
    base = (
        docs.select(
            "doc_id", F.coalesce(F.col("text"), F.lit("")).alias("_txt")
        )
        .withColumn("_h", F.expr("cast((length(_txt) + 1) div 2 as int)"))
        .withColumn("_first", F.expr("substring(_txt, 1, _h)"))
        .withColumn("_second", F.expr("substring(_txt, _h + 1)"))
    )
    did = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit("<html><head><title>Doc "),
        did,
        F.lit(' &amp; friends</title><style type="text/css">body { color: #fff; }</style>'),
        F.lit('<script type="text/javascript">var t = "page'),
        did,
        F.lit('"; if (1 < 2) { alert("</p> trap"); }</script></head><body>'),
        F.lit("<!-- crawl "),
        did,
        F.lit(" --><h1>Title &lt;"),
        did,
        F.lit("&gt;</h1><p>"),
        F.col("_first"),
        F.lit('</p><p id="second">'),
        F.col("_second"),
        F.lit(' &quot;end&quot;</p><br/><div class="footer">footer &#39;x&#39;</div></body></html>'),
    )
    corpus = base.select("doc_id", html.alias("html"))
    return html_extract_text(corpus).select("doc_id", "text")


# same corpus wrapping (|| propagates nothing NULL: text coalesced),
# same regex pipeline verbatim (RE2 == Java here: lazy quantifiers,
# inline (?is), \b, no backreferences), same entity decode order with
# &amp; last, chr(10)/chr(39) for the newline/quote replacement chars
_HTML_EXTRACT_ORACLE = r"""
WITH src AS (
  SELECT doc_id, coalesce(text, '') AS txt FROM documents
),
hs AS (
  SELECT doc_id, txt, CAST((length(txt) + 1) // 2 AS INT) AS h FROM src
),
parts AS (
  SELECT doc_id,
         substr(txt, 1, h) AS p1,
         substr(txt, h + 1) AS p2
  FROM hs
),
page AS (
  SELECT doc_id,
         '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR)
         || ' &amp; friends</title><style type="text/css">body { color: #fff; }</style>'
         || '<script type="text/javascript">var t = "page' || CAST(doc_id AS VARCHAR)
         || '"; if (1 < 2) { alert("</p> trap"); }</script></head><body>'
         || '<!-- crawl ' || CAST(doc_id AS VARCHAR)
         || ' --><h1>Title &lt;' || CAST(doc_id AS VARCHAR)
         || '&gt;</h1><p>' || p1
         || '</p><p id="second">' || p2
         || ' &quot;end&quot;</p><br/><div class="footer">footer &#39;x&#39;</div></body></html>'
           AS html
  FROM parts
),
s1 AS (SELECT doc_id, regexp_replace(html, '(?s)<!--.*?-->', ' ', 'g') AS c FROM page),
s2 AS (SELECT doc_id, regexp_replace(c, '(?is)<script\b[^>]*>.*?</script\s*>', ' ', 'g') AS c FROM s1),
s3 AS (SELECT doc_id, regexp_replace(c, '(?is)<style\b[^>]*>.*?</style\s*>', ' ', 'g') AS c FROM s2),
s4 AS (SELECT doc_id, regexp_replace(c, '(?is)<noscript\b[^>]*>.*?</noscript\s*>', ' ', 'g') AS c FROM s3),
s5 AS (SELECT doc_id, regexp_replace(c,
         '(?is)<(?:br|hr)\s*/?\s*>|</(?:__BLOCKS__)\s*>',
         chr(10), 'g') AS c FROM s4),
s7 AS (SELECT doc_id, regexp_replace(c, '(?s)<[^>]*>', ' ', 'g') AS c FROM s5),
ents AS (
  SELECT doc_id,
         replace(replace(replace(replace(replace(replace(replace(c,
           '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
           '&#39;', chr(39)), '&apos;', chr(39)), '&amp;', '&') AS c
  FROM s7
),
ws1 AS (SELECT doc_id, regexp_replace(c, '[ \t\r\f]*\n[ \t\n\r\f]*', chr(10), 'g') AS c FROM ents),
ws2 AS (SELECT doc_id, regexp_replace(c, '[ \t\r\f]+', ' ', 'g') AS c FROM ws1),
fin AS (
  SELECT doc_id,
         regexp_replace(c, '^\s+|\s+$', '', 'g') AS text
  FROM ws2
)
SELECT doc_id, text FROM fin
"""

def _html_extract_oracle() -> str:
    # the block-close alternation comes from the operator's own
    # constant, so the oracle cannot drift from the implementation
    from chroma_rs_spark.operators.text import _HTML_BLOCK_CLOSE

    return _HTML_EXTRACT_ORACLE.replace("__BLOCKS__", _HTML_BLOCK_CLOSE)


QUERIES["html_extract_text"] = QueryDef(
    q_html_extract_text, _html_extract_oracle()
)


# ---------------------------------------------------------------------------
# BPE tokenizer training (round 8): the full merge-learning loop is
# SQL-replayable because symbol sequences live as wrapped strings
# (\x01sym\x02) — one replace() per merge, boundary-safe, greedy-
# equivalent in both engines (operators/bpe.py module docstring). The
# oracle unrolls every merge iteration as CTEs: pair counts -> ordered
# 1-row argmax -> vocab rewrite, the knn_ivf_trained discipline
# applied to tokenizer learning.
# ---------------------------------------------------------------------------

_BPE_MERGES = 8


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn 8 BPE merges from the documents corpus (word-frequency
    collapse + 8 bounded vocab-table iterations); returns
    (merge_no, lhs, rhs, pair_count) in merge order."""
    from chroma_rs_spark.operators.bpe import train_bpe

    merges = train_bpe(
        load_table(spark, sf_dir, "documents"), n_merges=_BPE_MERGES
    )
    return local_frame(
        spark,
        [(i + 1, l, r, c) for i, (l, r, c) in enumerate(merges)],
        "merge_no INT, lhs STRING, rhs STRING, pair_count LONG",
    )


def _bpe_oracle(n: int = _BPE_MERGES) -> str:
    wrap = (
        "array_to_string(list_transform(range(1, length(w) + 1),"
        " i -> chr(1) || substr(w, CAST(i AS BIGINT), 1) || chr(2)), '')"
        " || chr(1) || '</w>' || chr(2)"
    )
    parts = [f"""
WITH wc AS (
  SELECT w, count(*) AS cnt FROM (
    SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
    FROM documents) u
  GROUP BY w
),
v0 AS (SELECT cnt, {wrap} AS s FROM wc)"""]
    for k in range(1, n + 1):
        parts.append(f""",
p{k} AS (
  SELECT l, r, sum(cnt) AS c FROM (
    SELECT cnt, a[CAST(i AS BIGINT)] AS l, a[CAST(i + 1 AS BIGINT)] AS r
    FROM (SELECT cnt,
                 string_split(substr(s, 2, length(s) - 2),
                              chr(2) || chr(1)) AS a
          FROM v{k - 1}) q,
         unnest(range(1, len(a))) t(i)
  ) pp GROUP BY l, r
),
m{k} AS (SELECT l, r, c FROM p{k} ORDER BY c DESC, l, r LIMIT 1),
v{k} AS (
  SELECT cnt,
         replace(s, chr(1) || m{k}.l || chr(2) || chr(1) || m{k}.r || chr(2),
                 chr(1) || m{k}.l || m{k}.r || chr(2)) AS s
  FROM v{k - 1} CROSS JOIN m{k}
)""")
    selects = [
        f"SELECT {k} AS merge_no, l AS lhs, r AS rhs,"
        f" CAST(c AS BIGINT) AS pair_count FROM m{k}"
        for k in range(1, n + 1)
    ]
    parts.append("\n" + "\nUNION ALL\n".join(selects))
    return "".join(parts)


QUERIES["bpe_merges"] = QueryDef(
    q_bpe_merges, _bpe_oracle(), iterative=True
)


def q_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train 8 merges, then tokenize EVERY document with them (the
    apply path: per-word wrapped-string replace chain, map-side):
    (doc_id, bpe_tokens, n_bpe_tokens).

    The token list is emitted as a chr(31)-joined STRING, not an
    ARRAY<STRING>: the driver's canonicalizer sorts raw pandas columns
    and dies on unhashable list cells (CORRECTNESS_r09 err), so every
    DECLARED row must keep scalar columns. The array-shaped variant
    stays gated as the extra row `bpe_tokenize_array`."""
    from chroma_rs_spark.operators.bpe import apply_bpe, train_bpe

    docs = load_table(spark, sf_dir, "documents")
    merges = train_bpe(docs, n_merges=_BPE_MERGES)
    return apply_bpe(docs, merges).select(
        "doc_id",
        F.array_join("bpe_tokens", "\x1f").alias("bpe_tokens"),
        F.col("bpe_tokens_n").alias("n_bpe_tokens"),
    )


def _bpe_tokenize_oracle(n: int = _BPE_MERGES) -> str:
    # reuse the training CTE chain, then apply the learned merges to
    # every document's words in position order
    head = _bpe_oracle(n).rsplit("\nSELECT 1 AS merge_no", 1)[0]
    wrap_tok = (
        "array_to_string(list_transform(range(1, length(tk) + 1),"
        " i -> chr(1) || substr(tk, CAST(i AS BIGINT), 1) || chr(2)), '')"
        " || chr(1) || '</w>' || chr(2)"
    )
    # fold the replaces inline (one expression, m1..mN cross-joined)
    expr = "s0"
    for k in range(1, n + 1):
        expr = (
            f"replace({expr}, chr(1) || m{k}.l || chr(2) || chr(1) || m{k}.r"
            f" || chr(2), chr(1) || m{k}.l || m{k}.r || chr(2))"
        )
    mjoin = " CROSS JOIN ".join(f"m{k}" for k in range(1, n + 1))
    return f"""{head},
docs0 AS (
  SELECT doc_id,
         list_filter(string_split(coalesce(text, ''), ' '), x -> x <> '') AS t
  FROM documents
),
w0 AS (
  SELECT doc_id, CAST(i AS INT) AS wpos, {wrap_tok} AS s0
  FROM (SELECT doc_id, i, t[CAST(i AS BIGINT)] AS tk
        FROM docs0, unnest(range(1, len(t) + 1)) r(i)) q
),
wm AS (
  SELECT doc_id, wpos,
         string_split(substr(ws, 2, length(ws) - 2), chr(2) || chr(1)) AS pieces
  FROM (SELECT doc_id, wpos, {expr} AS ws FROM w0 CROSS JOIN {mjoin}) q
),
agg AS (
  SELECT doc_id, flatten(list(pieces ORDER BY wpos)) AS bpe_tokens
  FROM wm GROUP BY doc_id
)
SELECT d.doc_id,
       -- DuckDB's array_to_string([]) is NULL, Spark's array_join of an
       -- empty array is '' — coalesce so NULL/empty docs match (caught
       -- by the adversarial-corpus gate, not the clean sf0.01 corpus)
       coalesce(array_to_string(a.bpe_tokens, chr(31)), '') AS bpe_tokens,
       CAST(coalesce(len(a.bpe_tokens), 0) AS BIGINT) AS n_bpe_tokens
FROM documents d LEFT JOIN agg a USING (doc_id)
"""


QUERIES["bpe_tokenize"] = QueryDef(
    q_bpe_tokenize, _bpe_tokenize_oracle(), iterative=True
)


def q_bpe_tokenize_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The natural ARRAY<STRING> shape of `bpe_tokenize` — what a
    pipeline consumer actually reads downstream. Kept undeclared:
    list columns are not driver-canonicalizable (see q_bpe_tokenize),
    and the local gate's stringify path covers them."""
    from chroma_rs_spark.operators.bpe import apply_bpe, train_bpe

    docs = load_table(spark, sf_dir, "documents")
    merges = train_bpe(docs, n_merges=_BPE_MERGES)
    return apply_bpe(docs, merges).select(
        "doc_id",
        "bpe_tokens",
        F.col("bpe_tokens_n").alias("n_bpe_tokens"),
    )


def _bpe_tokenize_array_oracle(n: int = _BPE_MERGES) -> str:
    body = _bpe_tokenize_oracle(n)
    out = body.replace(
        "coalesce(array_to_string(a.bpe_tokens, chr(31)), '') AS bpe_tokens",
        "coalesce(a.bpe_tokens, []) AS bpe_tokens",
    )
    assert out != body, "array-oracle rewrite anchor drifted"
    return out


QUERIES["bpe_tokenize_array"] = QueryDef(
    q_bpe_tokenize_array, _bpe_tokenize_array_oracle(), iterative=True
)


def q_script_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unicode-script composition over a deterministic
    multilingual wrapping (every 3rd doc gains a Cyrillic tail, every
    5th a CJK tail, every 7th an Arabic tail — so all classes and the
    dominance tie-break exercise on real rows)."""
    from chroma_rs_spark.operators.text import script_profile

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),
            F.when(F.col("doc_id") % 3 == 0, F.lit(" привет мир этот текст"))
            .otherwise(F.lit("")),
            F.when(F.col("doc_id") % 5 == 0, F.lit(" 日本語のテキスト"))
            .otherwise(F.lit("")),
            F.when(F.col("doc_id") % 7 == 0, F.lit(" نص عربي"))
            .otherwise(F.lit("")),
        ).alias("text"),
    )
    return script_profile(docs)


def _script_profile_oracle() -> str:
    from chroma_rs_spark.operators.text import SCRIPT_RANGES

    cnt = {
        name: f"len(regexp_extract_all(text, '{pat}'))"
        for name, pat in SCRIPT_RANGES
    }
    m = "greatest(" + ", ".join(cnt.values()) + ")"
    dom = "CASE WHEN length(text) IS NULL OR length(text) = 0 OR " + m + " = 0 THEN NULL"
    for name, _ in SCRIPT_RANGES:
        dom += f" WHEN {cnt[name]} = {m} THEN '{name}'"
    dom += " END"
    fracs = ",\n       ".join(
        f"CASE WHEN length(text) IS NULL OR length(text) = 0 THEN NULL"
        f" ELSE round(CAST({cnt[name]} AS DOUBLE)"
        f" / CAST(length(text) AS DOUBLE), 6) END AS {name}_frac"
        for name, _ in SCRIPT_RANGES
    )
    return f"""
WITH src AS (
  SELECT doc_id,
         coalesce(text, '')
         || CASE WHEN doc_id % 3 = 0 THEN ' привет мир этот текст' ELSE '' END
         || CASE WHEN doc_id % 5 = 0 THEN ' 日本語のテキスト' ELSE '' END
         || CASE WHEN doc_id % 7 = 0 THEN ' نص عربي' ELSE '' END AS text
  FROM documents
)
SELECT doc_id,
       CAST(coalesce(length(text), 0) AS BIGINT) AS n_chars,
       {fracs},
       {dom} AS dominant_script
FROM src
"""


QUERIES["script_profile"] = QueryDef(
    q_script_profile, _script_profile_oracle()
)


# ---------------------------------------------------------------------------
# text_normalize (round 10): CCNet unicode normalization — the canonical
# key computed before any hash-based dedup. The corpus is all-ASCII
# synthetic text, so the row PLANTS unicode twins (every 7th doc gains a
# +200000-id copy prefixed with decomposed/precomposed accents, an `fi`
# ligature, fullwidth forms, NBSP, ZWSP, a tab and doubled spaces) so
# NFC composition, accent folding and whitespace collapse all have work
# to do and the audit booleans split three ways. Parity of the engines'
# unicode tables (Python unicodedata vs DuckDB utf8proc) is probed in
# tests/test_text_normalize.py over the adversarial codepoint set.
# ---------------------------------------------------------------------------

# explicit \u escapes so no editor/VCS renormalization can silently
# recompose the decomposed sequences: e+U+0301, precomposed U+00E9,
# fi-ligature, fullwidth A/1, A+U+030A, i+U+0308, ZWSP, tab, doubled
# space, precomposed U+01ED, and U+212B ANGSTROM SIGN (NFC remaps it
# to U+00C5 - a singleton composition, not just a reorder).
_NORM_PLANT = (
    "e\u0301cole \u00e9 \ufb01re \uff21\uff11 A\u030a nai\u0308ve"
    " x\u200by\t z  w\u00a0w2 \u01ed \u212b "
)


def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from chroma_rs_spark.operators.text import normalize_text

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    twins = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.lit(_NORM_PLANT), F.col("text")).alias("text"),
    )
    return normalize_text(docs.unionByName(twins))


# the regex class is spelled with SQL-literal backslashes (no escape
# processing in DuckDB regular strings; RE2 resolves \t et al.) and is
# deliberately ASCII-only — NBSP/ZWSP are preserved by BOTH engines.
_TEXT_NORMALIZE_ORACLE = f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 200000 AS doc_id, '{_NORM_PLANT}' || text AS text
  FROM documents WHERE doc_id % 7 = 0
), n AS (
  SELECT doc_id, text, nfc_normalize(text) AS nfc_text FROM corpus
  WHERE text IS NOT NULL
), f AS (
  SELECT doc_id, text, nfc_text,
         trim(regexp_replace(strip_accents(nfc_text),
                             '[ \\t\\n\\r\\f\\v]+', ' ', 'g')) AS folded_text
  FROM n
)
SELECT doc_id, nfc_text, folded_text,
       nfc_text <> text AS nfc_changed,
       folded_text <> nfc_text AS fold_changed,
       CAST(length(folded_text) AS BIGINT) AS n_chars_folded
FROM f
"""

QUERIES["text_normalize"] = QueryDef(
    q_text_normalize, _TEXT_NORMALIZE_ORACLE
)


# ---------------------------------------------------------------------------
# dedup_unicode_normalized (round 10, session 3): the dedup ladder's
# unicode rung exercised end-to-end — every 9th doc gains TWO prefixed
# twins carrying the SAME visible text in different encodings
# (precomposed U+00E9 vs decomposed e+U+0301): byte-exact sha and the
# ASCII normalizer both hash them apart; the folded key collapses them
# into one duplicate group with the lower twin id as keeper. The
# oracle replays planting, NFC, accent-fold, collapse and the sha
# grouping.
# ---------------------------------------------------------------------------


def q_dedup_unicode_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    from chroma_rs_spark.operators.dedup import exact_dedup_unicode

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ninth = docs.filter(F.col("doc_id") % 9 == 0)
    # explicit escapes: U+00E9 precomposed vs e+U+0301 decomposed —
    # the pair the folded key must collapse and byte hashing must not
    twin_pre = ninth.select(
        (F.col("doc_id") + 300000).alias("doc_id"),
        F.concat(F.lit("\u00e9 "), F.col("text")).alias("text"),
    )
    twin_dec = ninth.select(
        (F.col("doc_id") + 400000).alias("doc_id"),
        F.concat(F.lit("e\u0301 "), F.col("text")).alias("text"),
    )
    return exact_dedup_unicode(
        docs.unionByName(twin_pre).unionByName(twin_dec)
    )


_DEDUP_UNICODE_ORACLE = """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 300000, chr(233) || ' ' || text
  FROM documents WHERE doc_id % 9 = 0
  UNION ALL
  SELECT doc_id + 400000, 'e' || chr(769) || ' ' || text
  FROM documents WHERE doc_id % 9 = 0
),
folded AS (
  SELECT doc_id,
         trim(regexp_replace(strip_accents(nfc_normalize(text)),
                             '[ \\t\\n\\r\\f\\v]+', ' ', 'g')) AS f
  FROM corpus WHERE text IS NOT NULL
),
hashed AS (SELECT doc_id, sha256(f) AS text_sha FROM folded),
grp AS (
  SELECT text_sha, CAST(count(*) AS BIGINT) AS n_copies,
         min(doc_id) AS keeper
  FROM hashed GROUP BY text_sha
)
SELECT h.doc_id, h.text_sha, g.n_copies,
       (h.doc_id = g.keeper) AS keep
FROM hashed h JOIN grp g USING (text_sha)
"""

QUERIES["dedup_unicode_normalized"] = QueryDef(
    q_dedup_unicode_normalized, _DEDUP_UNICODE_ORACLE
)
