"""Text-family extension queries (42 registrations), split out of the former
monolithic queries_ext.py with block text unchanged. Global
registration order is restored by queries_ext's reorder —
do not rely on this module's import order.
"""

from __future__ import annotations

from time_series_data_trimmer_spark.queries_common import *  # noqa: F401,F403
from time_series_data_trimmer_spark.functions.spread import spread, spread_scan



@register(
    "text_language_id",
    f"""
    WITH scored AS (
      SELECT doc_id, lang,
             {", ".join(f"{_lang_score_sql(lang)} AS s_{lang}" for lang in tx.LANG_MARKERS)}
      FROM documents
    )
    SELECT doc_id, lang, {_LANG_CASE} AS lang_pred FROM scored
    """,
)
def _q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _table(spark, sf_dir, "documents")
    return tx.language_id(docs).select("doc_id", "lang", "lang_pred")


@register(
    "text_quality_score",
    f"""
    WITH feats AS (
      SELECT doc_id,
             length(text) AS q_n_chars,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(string_split(trim(text), ' ')) END AS q_n_tokens,
             ({" + ".join(f"(length(text) - length(replace(text, '{c}', '')))" for c in ".,;:!?")}) AS punct,
             ({" + ".join(f"(length(text) - length(replace(text, '{c}', '')))" for c in "0123456789")}) AS digits,
             ({_lang_score_sql("en")}) AS stop_hits
      FROM documents
    ),
    ratios AS (
      SELECT doc_id, q_n_chars, q_n_tokens,
             CAST(punct AS DOUBLE) / (CASE WHEN q_n_chars = 0 THEN 1 ELSE q_n_chars END) AS q_punct_ratio,
             CAST(digits AS DOUBLE) / (CASE WHEN q_n_chars = 0 THEN 1 ELSE q_n_chars END) AS q_digit_ratio,
             stop_hits / (CASE WHEN q_n_tokens = 0 THEN 1 ELSE q_n_tokens END) AS q_stopword_ratio
      FROM feats
    )
    SELECT doc_id, CAST(q_n_chars AS BIGINT) AS q_n_chars, q_n_tokens,
           {R('''(CASE WHEN q_n_chars >= 100 AND q_n_chars <= 20000 THEN 0.4 ELSE 0.0 END)
             + least(q_stopword_ratio * 2.0, 0.4)
             + (0.2 - least((q_punct_ratio + q_digit_ratio) * 1.0, 0.2))''', 6)} AS quality
    FROM ratios
    """,
)
def _q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _table(spark, sf_dir, "documents")
    scored = tx.quality_score(docs)
    return scored.select(
        "doc_id",
        F.col("q_n_chars").cast("long").alias("q_n_chars"),
        "q_n_tokens",
        rd(F.col("quality"), 6).alias("quality"),
    )


@register(
    "text_token_counts",
    """
    SELECT doc_id,
           CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE len(string_split(trim(text), ' ')) END AS n_tokens,
           greatest(CAST(floor(length(text) / 4) AS BIGINT),
                    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                         ELSE len(string_split(trim(text), ' ')) END AS BIGINT)) AS n_bpe_est
    FROM documents
    """,
)
def _q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        tx.token_count(F.col("text")).cast("long").alias("n_tokens"),
        tx.bpe_ish_token_estimate(F.col("text")).alias("n_bpe_est"),
    )


@register(
    "text_fingerprint",
    """
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fingerprint
    FROM documents
    """,
)
def _q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.fingerprint(_table(spark, sf_dir, "documents")).select("doc_id", "fingerprint")


@register(
    "text_winnow_fingerprint",
    """
    WITH norm AS (
      SELECT doc_id, trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS t
      FROM documents
    )
    SELECT doc_id,
           list_min(list_transform(
             generate_series(1, greatest(length(t) - 15, 1)),
             i -> md5(substr(t, i, 16)))) AS winnow_fp
    FROM norm
    """,
)
def _q_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.rolling_hash_fingerprint(_table(spark, sf_dir, "documents")).select(
        "doc_id", "winnow_fp"
    )


@register(
    "text_redact_fingerprint",
    f"""
    SELECT doc_id,
           md5(regexp_replace(regexp_replace(regexp_replace(text,
             '{tx.REDACT_PATTERNS[0][0]}', '<EMAIL>', 'g'),
             '{tx.REDACT_PATTERNS[1][0]}', '<URL>', 'g'),
             '{tx.REDACT_PATTERNS[2][0]}', '<NUM>', 'g')) AS redacted_md5
    FROM documents
    """,
)
def _q_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-ish scrubbing verified end-to-end: md5 of the redacted text
    must match an independent engine applying the same pattern chain
    (the synthetic corpus contains no PII, so this checks the regex
    dialect portability; behavioral coverage is in test_extensions)."""
    out = tx.redact_documents(_table(spark, sf_dir, "documents"))
    return out.select("doc_id", F.md5(F.col("text_redacted")).alias("redacted_md5"))


@register(
    "text_token_percentiles",
    f"""
    WITH nt AS (
      SELECT lang,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(string_split(trim(text), ' ')) END AS n_tokens
      FROM documents
    )
    SELECT lang, count(*) AS n_docs,
           {R("quantile_cont(n_tokens, 0.5)", 6)} AS p50,
           {R("quantile_cont(n_tokens, 0.9)", 6)} AS p90,
           {R("quantile_cont(n_tokens, 0.99)", 6)} AS p99
    FROM nt GROUP BY lang
    """,
)
def _q_token_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = tx.token_percentiles(_table(spark, sf_dir, "documents"))
    return out.select(
        "lang", "n_docs",
        rd(F.col("p50"), 6).alias("p50"),
        rd(F.col("p90"), 6).alias("p90"),
        rd(F.col("p99"), 6).alias("p99"),
    )


@register(
    "text_dup_rate_by_source",
    f"""
    SELECT source, count(*) AS n_docs,
           count(DISTINCT md5(text)) AS n_distinct,
           {R("CAST(count(*) - count(DISTINCT md5(text)) AS DOUBLE) / count(*)", 6)} AS dup_rate
    FROM documents GROUP BY source
    """,
)
def _q_dup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = tx.dup_rate_by_source(_table(spark, sf_dir, "documents"))
    return out.select("source", "n_docs", "n_distinct", rd(F.col("dup_rate"), 6).alias("dup_rate"))


@register(
    "text_inverted_index",
    """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(trim(text), ' ')) AS token FROM documents
    ),
    t2 AS (SELECT * FROM toks WHERE length(token) > 0),
    occ AS (SELECT token, count(*) AS total_occurrences FROM t2 GROUP BY token),
    post AS (SELECT token, doc_id FROM t2 GROUP BY 1, 2),
    idx AS (
      SELECT token, count(*) AS doc_freq,
             string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
      FROM post GROUP BY token
    )
    SELECT i.token, i.doc_freq, o.total_occurrences, i.postings
    FROM idx i JOIN occ o USING (token)
    ORDER BY doc_freq DESC, token LIMIT 100
    """,
)
def _q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build for the 100 highest-df tokens: one
    map-side-combined aggregation on the token ((token, id) pairs
    shuffle, never text), postings as sorted id strings, TakeOrdered
    top-k. The doc_freq-desc/token-asc order is strict and total, so
    the LIMIT selects the same set in both engines."""
    return tx.inverted_index(_table(spark, sf_dir, "documents"), top_k=100)


@register(
    "text_collapse_repeat_tokens",
    """
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    k AS (
      SELECT doc_id, ws,
             list_filter(ws, (x, i) -> i = 1 OR x <> ws[i - 1]) AS kept
      FROM w
    )
    SELECT doc_id,
           array_to_string(kept, ' ') AS cleaned,
           CAST(len(ws) - len(kept) AS INT) AS n_removed
    FROM k
    """,
)
def _q_collapse_repeats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition cleaner (`tx.collapse_repeat_tokens`):
    consecutive duplicate tokens collapse to one — scraper stutter /
    decoder-loop cleanup, pure scan-side array expressions (388 of 500
    sf0.01 docs carry at least one repeat run)."""
    return tx.collapse_repeat_tokens(_table(spark, sf_dir, "documents"))


@register(
    "text_chunk_documents",
    """
    WITH base AS (
      SELECT doc_id,
             list_filter(string_split(trim(text), ' '), x -> length(x) > 0) AS ts
      FROM documents WHERE text IS NOT NULL
    ),
    sized AS (SELECT doc_id, ts, len(ts) AS n FROM base WHERE len(ts) > 0),
    ex AS (
      SELECT doc_id, ts, n,
             CAST(unnest(generate_series(0,
               CASE WHEN n <= 32 THEN 0
                    ELSE CAST(ceil((n - 32) / 24.0) AS INT) END)) AS INT) AS chunk_id
      FROM sized
    )
    SELECT doc_id, chunk_id,
           array_to_string(list_slice(ts, chunk_id * 24 + 1, chunk_id * 24 + 32), ' ') AS chunk_text,
           CAST(least(32, n - chunk_id * 24) AS INT) AS n_tokens
    FROM ex
    """,
)
def _q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (`tx.chunk_documents`,
    32-token chunks, 8-token overlap → stride 24) — the chunk step of
    chunk→embed→pool retrieval pipelines. Zero-shuffle scan-side fan-
    out; the oracle rebuilds every chunk string with list slicing."""
    return tx.chunk_documents(
        _table(spark, sf_dir, "documents"), chunk_tokens=32, overlap=8
    )


@register(
    "text_tfidf_top_terms",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(trim(text), ' ')) AS token FROM documents
    ),
    t2 AS (SELECT * FROM toks WHERE length(token) > 0),
    tf AS (SELECT doc_id, token, count(*) AS tf FROM t2 GROUP BY 1, 2),
    dfq AS (SELECT token, count(*) AS doc_freq FROM tf GROUP BY token),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.token, tf.tf, dfq.doc_freq,
             CAST(tf.tf AS DOUBLE) * CAST(n.n_docs + 1 AS DOUBLE)
               / CAST(dfq.doc_freq + 1 AS DOUBLE) AS s
      FROM tf JOIN dfq USING (token), n
    )
    SELECT doc_id, token, tf, doc_freq,
           CAST(row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, token ASC) AS INT) AS rank,
           {sql_rd("s", 6)} AS score
    FROM scored
    QUALIFY rank <= 3
    """,
)
def _q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 tf-idf terms (`tx.tfidf_top_terms`) — keyword
    extraction over the corpus. Un-logged idf ratio so the score is
    IEEE-deterministic across engines (ln() is last-ulp ambiguous);
    one token explode, narrow tf/df aggregations, 1-row scalar N,
    keyed top-k window."""
    return tx.tfidf_top_terms(_table(spark, sf_dir, "documents"), top_k=3)


@register(
    "text_bigram_lm_score",
    f"""
    WITH toks AS (
      SELECT doc_id, string_split(trim(text), ' ') AS w
      FROM documents WHERE text IS NOT NULL
    ),
    posns AS (
      SELECT doc_id, w, generate_subscripts(w, 1) AS pos
      FROM toks WHERE len(w) >= 2
    ),
    bg AS (
      SELECT doc_id,
             md5(array_to_string(list_slice(w, pos, pos+1), ' ')) AS bd,
             md5(w[pos]) AS cd
      FROM posns WHERE pos <= len(w) - 1
    ),
    bgc AS (SELECT bd, count(*) AS c2 FROM bg GROUP BY bd),
    ctx AS (SELECT cd, count(*) AS c1 FROM bg GROUP BY cd),
    vocab AS (
      SELECT count(distinct md5(u.tok)) AS v
      FROM toks, unnest(toks.w) AS u(tok)
    ),
    scored AS (
      SELECT b.doc_id,
             {R("-log2(CAST(c.c2 + 1 AS DOUBLE) / CAST(x.c1 + vocab.v AS DOUBLE))", 6)} AS nll
      FROM bg b
      JOIN bgc c ON c.bd = b.bd
      JOIN ctx x ON x.cd = b.cd
      CROSS JOIN vocab
    )
    SELECT doc_id, count(*) AS n_bigrams,
           {R("CAST(sum(CAST(nll AS DECIMAL(38,6))) AS DOUBLE) / count(*)", 6)} AS avg_nll
    FROM scored GROUP BY doc_id
    """,
)
def _q_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained bigram LM fluency score (`tx.bigram_lm_score`):
    the perplexity-style filter signal, trained and applied in one
    job. Digest-keyed counts and joins (32-hex keys shuffle, never
    token text); V is the sanctioned 1-row broadcast scalar; per-term
    -log2 terms round@6 then decimal-accumulate so the per-doc mean is
    order-independent."""
    return tx.bigram_lm_score(_table(spark, sf_dir, "documents"))


@register(
    "text_repetition_stats",
    f"""
    WITH {_REP_WS},
    bgl AS (
      SELECT doc_id, list_filter(
               list_transform(ws, (x, i) ->
                 CASE WHEN i < len(ws) THEN x || ' ' || ws[i + 1] END),
               b -> b IS NOT NULL) AS bs
      FROM s
    ),
    bt AS (SELECT doc_id, unnest(bs) AS b FROM bgl),
    bc AS (SELECT doc_id, b, count(*) AS c FROM bt GROUP BY 1, 2),
    topb AS (
      SELECT doc_id, b, c, c * (length(b) - 1) AS mass,
             row_number() OVER (
               PARTITION BY doc_id ORDER BY c * (length(b) - 1) DESC, b ASC
             ) AS rn
      FROM bc
    )
    SELECT s.doc_id,
           CAST(s.n AS INT) AS n_tokens,
           CAST(s.nd AS INT) AS n_distinct,
           {R("CAST(s.n - s.nd AS DOUBLE) / s.n", 6)} AS dup_token_frac,
           u.tok AS top_token,
           CAST(u.c AS INT) AS top_token_count,
           {R("CAST(u.mass AS DOUBLE) / s.chars", 6)} AS top_token_char_frac,
           coalesce(b.b, '') AS top_bigram,
           CAST(coalesce(b.c, 0) AS INT) AS top_bigram_count,
           {R("CAST(coalesce(b.mass, 0) AS DOUBLE) / s.chars", 6)} AS top_bigram_char_frac
    FROM s
    JOIN (SELECT * FROM topu WHERE rn = 1) u ON s.doc_id = u.doc_id
    LEFT JOIN (SELECT * FROM topb WHERE rn = 1) b ON s.doc_id = b.doc_id
    """,
)
def _q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc Gopher/MassiveText repetition metrics
    (`tx.repetition_stats`): duplicate-token fraction + top-unigram /
    top-bigram char coverage — the intra-document repetition signal
    exact dedup cannot see. Spark computes each doc's mode via
    array_sort + ONE linear run-length `aggregate` (zero shuffle,
    whole-stage codegen); the oracle takes the explode + GROUP BY +
    argmax road and must agree exactly, tie-broken to the
    lexicographically-smallest gram on equal char mass."""
    return tx.repetition_stats(_table(spark, sf_dir, "documents"))


@register(
    "text_hashed_linear_score",
    f"""
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split(trim(text), ' '), x -> length(x) > 0) AS ws
      FROM documents WHERE text IS NOT NULL
    ),
    s AS (
      SELECT doc_id, len(ws) AS n,
             list_aggregate(list_transform(ws, t ->
               CAST({R("(('0x' || substr(md5('tsdt|hls' || '|' || t), 1, 8))::BIGINT) / 4294967296.0 - 0.5", 6)} AS DECIMAL(20,6))
             ), 'sum') AS tot
      FROM w WHERE len(ws) > 0
    )
    SELECT doc_id, CAST(n AS INT) AS n_tokens,
           {R("CAST(tot AS DOUBLE) / n", 6)} AS logit
    FROM s
    """,
)
def _q_hashed_linear_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-feature linear scoring (`tx.hashed_linear_score`): the
    model-based quality-filter shape (fasttext/CCNet lineage) with
    md5-derived stand-in weights — mean hashed-token weight as a raw
    logit, exact decimal accumulation, zero shuffle. Swapping learned
    weights in changes a weight lookup, not the plan."""
    return tx.hashed_linear_score(_table(spark, sf_dir, "documents"))


@register(
    "text_bm25_topk",
    f"""
    WITH toks AS (
      SELECT doc_id, t.token
      FROM documents,
           LATERAL (SELECT unnest(string_split(trim(text), ' ')) AS token) t
      WHERE len(t.token) > 0
    ),
    dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
    stats AS (
      SELECT count(*) AS n_docs,
             CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
      FROM dl
    ),
    tf AS (
      SELECT doc_id, token, count(*) AS tf
      FROM toks WHERE token IN ('spark', 'window', 'join')
      GROUP BY doc_id, token
    ),
    dfreq AS (SELECT token, count(*) AS doc_freq FROM tf GROUP BY token),
    scored AS (
      SELECT t.doc_id,
             CAST({sql_rd(
                 "((CAST(s.n_docs AS DOUBLE) - CAST(d.doc_freq AS DOUBLE) + 0.5)"
                 " / (CAST(d.doc_freq AS DOUBLE) + 0.5))"
                 " * (CAST(t.tf AS DOUBLE) * 2.2)"
                 " / (CAST(t.tf AS DOUBLE)"
                 "    + 1.2 * (0.25 + 0.75 * CAST(l.dl AS DOUBLE) / s.avgdl))",
                 9,
             )} AS DECIMAL(38,9)) AS s
      FROM tf t
      JOIN dfreq d ON d.token = t.token
      JOIN dl l ON l.doc_id = t.doc_id
      CROSS JOIN stats s
    )
    SELECT doc_id,
           count(*) AS n_terms_matched,
           {R("CAST(sum(s) AS DOUBLE)", 6)} AS score
    FROM scored GROUP BY doc_id
    ORDER BY score DESC, doc_id ASC
    LIMIT {_BM25_K}
    """,
)
def _q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k retrieval (`tx.bm25_topk`) for the query
    "spark window join": query-term filter ON the token scan, narrow
    (doc, term) tf/df shuffles, 1-row corpus-stats broadcast, un-logged
    idf (the repo's determinism-over-convention policy), decimal-summed
    per-term scores, TakeOrdered top-k. The lexical-retrieval primitive
    a RAG or eval-mining pipeline runs per query."""
    return tx.bm25_topk(
        _table(spark, sf_dir, "documents"),
        query_terms=_BM25_TERMS,
        k=_BM25_K, k1=_BM25_K1, b=_BM25_B,
    )


@register(
    "text_quality_percentile_by_lang",
    f"""
    WITH feats AS (
      SELECT doc_id, lang,
             length(text) AS q_n_chars,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(string_split(trim(text), ' ')) END AS q_n_tokens,
             ({" + ".join(f"(length(text) - length(replace(text, '{c}', '')))" for c in ".,;:!?")}) AS punct,
             ({" + ".join(f"(length(text) - length(replace(text, '{c}', '')))" for c in "0123456789")}) AS digits,
             ({_lang_score_sql("en")}) AS stop_hits
      FROM documents
    ),
    ratios AS (
      SELECT doc_id, lang,
             CAST(punct AS DOUBLE) / (CASE WHEN q_n_chars = 0 THEN 1 ELSE q_n_chars END) AS q_punct_ratio,
             CAST(digits AS DOUBLE) / (CASE WHEN q_n_chars = 0 THEN 1 ELSE q_n_chars END) AS q_digit_ratio,
             stop_hits / (CASE WHEN q_n_tokens = 0 THEN 1 ELSE q_n_tokens END) AS q_stopword_ratio,
             q_n_chars
      FROM feats
    ),
    q AS (
      SELECT doc_id, lang,
             {R('''(CASE WHEN q_n_chars >= 100 AND q_n_chars <= 20000 THEN 0.4 ELSE 0.0 END)
               + least(q_stopword_ratio * 2.0, 0.4)
               + (0.2 - least((q_punct_ratio + q_digit_ratio) * 1.0, 0.2))''', 6)} AS quality
      FROM ratios
    ),
    ranked AS (
      SELECT doc_id, lang, quality,
             {R("percent_rank() OVER (PARTITION BY lang ORDER BY quality ASC)", 9)} AS pct_rank
      FROM q
    )
    SELECT doc_id, lang, quality, pct_rank,
           CAST(least(9, CAST(floor(pct_rank * 10.0) AS INT)) AS BIGINT) AS decile
    FROM ranked
    """,
)
def _q_quality_percentile_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language quality normalization
    (`tx.quality_percentile_by_group`): percent_rank of the 6-dp
    quality score WITHIN each language + decile bucket — the
    "top X% per language" selection primitive. Rank keys on the
    ROUNDED score so ties are value-ties in every engine; ntile is
    deliberately avoided (it splits ties by arbitrary row order).
    One group-key shuffle; the docstring specs the two-pass histogram
    rank that replaces the per-language window at 100 TB."""
    return tx.quality_percentile_by_group(_table(spark, sf_dir, "documents"))


@register(
    "text_ngram_topk_global",
    """
    WITH w AS (
      SELECT string_split(trim(text), ' ') AS w FROM documents
      WHERE text IS NOT NULL
    ),
    g AS (
      SELECT array_to_string(w[i.i:i.i+1], ' ') AS gram
      FROM w, LATERAL (SELECT unnest(generate_series(1, len(w) - 1)) AS i) i
      WHERE len(w) >= 2
    )
    SELECT gram, count(*) AS occurrences
    FROM g WHERE len(gram) > 0
    GROUP BY gram
    ORDER BY occurrences DESC, gram ASC
    LIMIT 25
    """,
)
def _q_ngram_topk_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-25 bigrams by occurrence (`tx.ngram_topk_global`):
    corpus-statistics boilerplate/stop-phrase discovery. Grams build
    scan-side from shifted array views (no per-position lambda); the
    shuffle carries (gram, partial count) — bounded by vocabulary; the
    top-k is a TakeOrdered with a gram-text tie-break."""
    return tx.ngram_topk_global(_table(spark, sf_dir, "documents"), n=2, k=25)


@register(
    "text_heavy_hitters_by_source",
    """
    WITH toks AS (
      SELECT d.source AS source, t.token AS token
      FROM documents d,
           LATERAL (SELECT unnest(string_split(trim(d.text), ' ')) AS token) t
      WHERE d.text IS NOT NULL AND len(t.token) > 0
    )
    SELECT source, token, count(*) AS exact_count
    FROM toks GROUP BY source, token HAVING count(*) >= 50
    """,
)
def _q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source heavy-hitter tokens (count ≥ 50) via the Count-Min
    prefilter (`sk.cm_heavy_hitters`): registers built once
    ((g,r,c) shuffle bounded at d·w per source), broadcast back as d
    map-side counter lookups, `least(counters) >= T` gating
    occurrences scan-side — CM never underestimates, so no heavy item
    can be pruned — and only the surviving heavy tail enters the
    exact (source, token) count. The oracle is the NAIVE full-shuffle
    GROUP BY/HAVING: matching it exactly IS the operator's claim
    (provably exact result, candidate-bounded shuffle)."""
    docs = _table(spark, sf_dir, "documents")
    toks = (
        docs.filter(F.col("text").isNotNull())
        .select(
            "source",
            F.explode(F.split(F.trim(F.col("text")), " ")).alias("token"),
        )
        .filter(F.length("token") > 0)
    )
    return sk.cm_heavy_hitters(
        toks, "source", "token", min_count=50, d=_CM_D, w=_CM_W, seed=_CM_SEED
    )


@register(
    "retrieval_rrf_hybrid",
    f"""
    WITH toks AS (
      SELECT doc_id, t.token
      FROM documents,
           LATERAL (SELECT unnest(string_split(trim(text), ' ')) AS token) t
      WHERE len(t.token) > 0
    ),
    dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
    stats AS (
      SELECT count(*) AS n_docs,
             CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
      FROM dl
    ),
    ex AS ({_EX_SQL}),
    {",".join(_rrf_bm25_cte(q, c["terms"]) for q, c in _RRF_QUERIES.items())},
    {",".join(_rrf_dense_cte(q, c["vec"]) for q, c in _RRF_QUERIES.items())},
    lex AS (SELECT * FROM bm_q0 UNION ALL SELECT * FROM bm_q1),
    dns AS (SELECT * FROM dn_q0 UNION ALL SELECT * FROM dn_q1),
    lexr AS (
      SELECT query_id, doc_id,
             row_number() OVER (
               PARTITION BY query_id ORDER BY score DESC, doc_id ASC
             ) AS rnk
      FROM lex
    ),
    dnsr AS (
      SELECT query_id, doc_id,
             row_number() OVER (
               PARTITION BY query_id ORDER BY score DESC, doc_id ASC
             ) AS rnk
      FROM dns
    ),
    rr AS (
      SELECT query_id, doc_id,
             CAST({sql_rd("1.0 / (60.0 + CAST(rnk AS DOUBLE))", 9)} AS DECIMAL(38,9)) AS t
      FROM lexr
      UNION ALL
      SELECT query_id, doc_id,
             CAST({sql_rd("1.0 / (60.0 + CAST(rnk AS DOUBLE))", 9)} AS DECIMAL(38,9)) AS t
      FROM dnsr
    ),
    fused AS (
      SELECT query_id, doc_id,
             count(*) AS n_lists,
             {R("CAST(sum(t) AS DOUBLE)", 9)} AS rrf_score
      FROM rr GROUP BY query_id, doc_id
    )
    SELECT query_id, doc_id, n_lists, rrf_score FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY rrf_score DESC, doc_id ASC
      ) AS rn FROM fused
    ) WHERE rn <= 10
    """,
)
def _q_retrieval_rrf_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion (`tx.rrf_fuse`,
    Cormack et al. 2009) for a BATCH of two queries: each query's BM25
    top-20 fused with its decimal-cosine dense top-20, fused score =
    sum of 9-dp-rounded 1/(60+rank) terms, top-10 PER QUERY. The
    query id is a real data column (per-branch tags surviving a
    union), so every rank window is KEYED — the same plan fuses a
    million-query batch; a single-literal-query form would
    constant-fold the key away into a keyless window, which the plan
    sweep (rightly) rejects."""
    docs = _table(spark, sf_dir, "documents")
    emb = _table(spark, sf_dir, "embeddings")
    lex_parts, dense_parts = [], []
    for qid, cfg in _RRF_QUERIES.items():
        lex_parts.append(
            tx.bm25_topk(docs, list(cfg["terms"]), k=20).select(
                F.lit(qid).alias("query_id"), "doc_id", F.col("score")
            )
        )
        qvec = [
            float(x)
            for x in emb.filter(F.col("vec_id") == cfg["vec"]).first()["embedding"]
        ]
        dense_parts.append(
            sim.decimal_cosine_vs_query(emb, qvec)
            .select(
                F.lit(qid).alias("query_id"),
                F.col("vec_id").alias("doc_id"),
                rd(F.col("cosine"), 6).alias("score"),
            )
            .orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(20)
        )
    lex = lex_parts[0].unionByName(lex_parts[1])
    dense = dense_parts[0].unionByName(dense_parts[1])
    fused = tx.rrf_fuse([lex, dense], k=60)
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_score").desc(), F.col("doc_id").asc()
    )
    return (
        fused.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= 10)
        .select("query_id", "doc_id", "n_lists", "rrf_score")
    )


@register(
    "text_token_gini",
    f"""
    WITH toks AS (
      SELECT doc_id, t.token
      FROM documents,
           LATERAL (SELECT unnest(string_split(trim(text), ' ')) AS token) t
      WHERE text IS NOT NULL AND len(t.token) > 0
    ),
    tf AS (SELECT doc_id, token, count(*) AS c FROM toks GROUP BY doc_id, token),
    wn AS (SELECT *, sum(c) OVER (PARTITION BY doc_id) AS n FROM tf)
    SELECT doc_id,
           CAST(max(n) AS BIGINT) AS n_tokens,
           count(*) AS n_distinct,
           {R("1.0 - CAST(sum(CAST(" + sql_rd(
               "(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))"
               " * (CAST(c AS DOUBLE) / CAST(n AS DOUBLE))", 12
           ) + " AS DECIMAL(38,12))) AS DOUBLE)", 9)} AS gini
    FROM wn GROUP BY doc_id
    """,
)
def _q_token_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc token-distribution Gini impurity (`tx.token_gini`) —
    the portable lexical-diversity score (entropy needs log; Gini is
    squares of exact ratios, bit-identical everywhere, and ranks docs
    the same way for repetitive-junk filtering). One (doc, token)
    count; per-doc total on the same doc-key Exchange."""
    out = tx.token_gini(_table(spark, sf_dir, "documents"))
    return out.select(
        "doc_id", F.col("n_tokens").cast("long").alias("n_tokens"),
        "n_distinct", "gini",
    )


@register(
    "text_chunks_udtf",
    """
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split(trim(text), ' '), t -> len(t) > 0) AS toks
      FROM documents WHERE text IS NOT NULL
    )
    SELECT doc_id,
           CAST(i.i AS INT) AS seg_idx,
           array_to_string(toks[i.i * 8 + 1 : i.i * 8 + 8], ' ') AS segment
    FROM w,
         LATERAL (SELECT unnest(generate_series(0,
                    CAST(ceil(len(toks) / 8.0) AS BIGINT) - 1)) AS i) i
    WHERE len(toks) > 0
    """,
)
def _q_text_chunks_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-stride token chunking through a Python UDTF
    (`tx.chunks_udtf_frame` — Spark 4 lateral table function,
    Arrow-optimized): the §2.11 API-surface demo for logic that can't
    be an expression (external tokenizers, stateful parsers), held to
    the SAME exact oracle as the codegen chunker. Production chunking
    stays on `text_chunk_documents`; this proves the UDTF boundary is
    value-transparent."""
    return tx.chunks_udtf_frame(_table(spark, sf_dir, "documents"), chunk_tokens=8)


@register(
    "text_vocab_growth",
    f"""
    WITH b AS (
      SELECT doc_id, text,
             CAST(floor({sp.sql_hash_u32('doc_id', 'tsdt|vocab')} * 10
                        / 4294967296.0) AS INT) AS bucket
      FROM documents WHERE text IS NOT NULL
    ),
    toks AS (
      SELECT b.bucket, md5(t.token) AS td
      FROM b, LATERAL (SELECT unnest(string_split(trim(b.text), ' ')) AS token) t
      WHERE len(t.token) > 0
    ),
    firsts AS (SELECT td, min(bucket) AS fb FROM toks GROUP BY td),
    vocab_at AS (SELECT fb, count(*) AS nv FROM firsts GROUP BY fb),
    inst_at AS (SELECT bucket, count(*) AS ni FROM toks GROUP BY bucket),
    docs_at AS (SELECT bucket, count(*) AS nd FROM b GROUP BY bucket),
    v_cum AS (
      SELECT u.b AS bucket, CAST(sum(nv) AS BIGINT) AS vocab_cum
      FROM vocab_at, unnest(generate_series(vocab_at.fb, 9)) u(b) GROUP BY u.b
    ),
    i_cum AS (
      SELECT u.b AS bucket, CAST(sum(ni) AS BIGINT) AS instances_cum
      FROM inst_at, unnest(generate_series(inst_at.bucket, 9)) u(b) GROUP BY u.b
    ),
    d_cum AS (
      SELECT u.b AS bucket, CAST(sum(nd) AS BIGINT) AS docs_cum
      FROM docs_at, unnest(generate_series(docs_at.bucket, 9)) u(b) GROUP BY u.b
    )
    SELECT d.bucket, d.docs_cum, i.instances_cum, v.vocab_cum
    FROM d_cum d JOIN i_cum i ON i.bucket = d.bucket
                 JOIN v_cum v ON v.bucket = d.bucket
    """,
)
def _q_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary-growth curve (`tx.vocab_growth`, V ~ n^beta):
    cumulative distinct tokens / instances / docs after each tenth of
    the corpus in the deterministic md5 ingestion order — the
    diminishing-returns signal behind data-budget decisions (a
    flattened curve means new shards add little vocabulary). Tokens
    collapse to (digest, min bucket) — one narrow shuffle; the
    cumulative sums are explode(sequence) over <= 10 aggregate rows,
    never a keyless window."""
    return tx.vocab_growth(_table(spark, sf_dir, "documents"), n_buckets=10)


@register(
    "text_cooc_lift_pairs",
    f"""
    WITH toks AS (
      SELECT DISTINCT d.doc_id, t.token
      FROM documents d,
           LATERAL (SELECT unnest(string_split(trim(d.text), ' ')) AS token) t
      WHERE d.text IS NOT NULL AND len(t.token) > 0
    ),
    dfreq AS (
      SELECT token, count(*) AS df FROM toks GROUP BY token
      HAVING count(*) >= {_COOC_MIN_DF}
    ),
    gated AS (
      SELECT t.doc_id, t.token, f.df
      FROM toks t JOIN dfreq f USING (token)
    ),
    pairs AS (
      SELECT a.token AS tok_a, b.token AS tok_b,
             min(a.df) AS c_x, min(b.df) AS c_y,
             count(*) AS c_xy
      FROM gated a JOIN gated b
        ON a.doc_id = b.doc_id AND a.token < b.token
      GROUP BY a.token, b.token
      HAVING count(*) >= {_COOC_MIN_XY}
    ),
    n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM toks)
    SELECT tok_a, tok_b,
           CAST(c_xy AS BIGINT) AS c_xy,
           CAST(c_x AS BIGINT) AS c_x,
           CAST(c_y AS BIGINT) AS c_y,
           {R("CAST(n_docs * c_xy AS DOUBLE) / (CAST(c_x AS DOUBLE) * c_y)", 6)} AS lift
    FROM pairs CROSS JOIN n
    """,
)
def _q_cooc_lift_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token co-occurrence lift at document level — the collocation /
    phrase-mining primitive: lift = N·c_xy / (c_x·c_y) (> 1 means the
    pair co-occurs more than independence predicts; PMI is its log,
    monotone, so ranking by lift IS ranking by PMI). The un-logged
    exact-rational form keeps the score a single IEEE division of
    exact integers — engine-identical, the `tfidf_top_terms`
    discipline (ln() is last-ulp ambiguous across engines).

    Scale bounds, both explicit knobs: the document-frequency gate
    (df ≥ {_COOC_MIN_DF}) bounds the vocabulary entering the pair join
    — df is computed on the already-distinct (doc, token) stream and
    joined back shuffle-hash on token (vocabulary-keyed, not
    occurrence-keyed); the per-doc pair fan is then |gated ∩ doc|²,
    quadratic only in the GATED per-doc vocabulary, and the support
    floor (c_xy ≥ {_COOC_MIN_XY}) bounds the output. N rides the
    sanctioned 1-row scalar broadcast."""
    docs = _table(spark, sf_dir, "documents")
    toks = (
        docs.filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            F.explode(F.split(F.trim(F.col("text")), " ")).alias("token"),
        )
        .filter(F.length("token") > 0)
        .distinct()
    )
    dfreq = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= _COOC_MIN_DF)
    )
    gated = toks.join(dfreq.hint("shuffle_hash"), "token").select(
        "doc_id", "token", "df"
    )
    a = gated.select(
        "doc_id", F.col("token").alias("tok_a"), F.col("df").alias("__dfa")
    )
    b = gated.select(
        "doc_id", F.col("token").alias("tok_b"), F.col("df").alias("__dfb")
    )
    pairs = (
        a.join(b.hint("shuffle_hash"), "doc_id")
        .filter(F.col("tok_a") < F.col("tok_b"))
        .groupBy("tok_a", "tok_b")
        .agg(
            F.min("__dfa").alias("c_x"),
            F.min("__dfb").alias("c_y"),
            F.count(F.lit(1)).alias("c_xy"),
        )
        .filter(F.col("c_xy") >= _COOC_MIN_XY)
    )
    n = toks.agg(F.countDistinct("doc_id").alias("n_docs"))
    return pairs.crossJoin(F.broadcast(n)).select(
        "tok_a",
        "tok_b",
        F.col("c_xy").cast("long").alias("c_xy"),
        F.col("c_x").cast("long").alias("c_x"),
        F.col("c_y").cast("long").alias("c_y"),
        rd(
            (F.col("n_docs") * F.col("c_xy")).cast("double")
            / (F.col("c_x").cast("double") * F.col("c_y")),
            6,
        ).alias("lift"),
    )


# ---------------------------------------------------------------------------
# Per-source token entropy (tx.token_entropy)
# ---------------------------------------------------------------------------


@register(
    "text_token_entropy_by_source",
    f"""
    WITH toks AS (
      SELECT source AS grp, t.token
      FROM documents,
           LATERAL (SELECT unnest(string_split(trim(text), ' ')) AS token) t
      WHERE text IS NOT NULL AND len(t.token) > 0
    ),
    tf AS (SELECT grp, token, count(*) AS c FROM toks GROUP BY grp, token),
    tot AS (SELECT grp, sum(c) AS n, count(*) AS vocab FROM tf GROUP BY grp),
    e AS (
      SELECT tf.grp, max(tot.n) AS n_tokens, max(tot.vocab) AS vocab,
             CAST(sum(CAST({sql_rd(
                 "-(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))"
                 " * log2(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))", 6
             )} AS DECIMAL(38,6))) AS DOUBLE) AS h
      FROM tf JOIN tot ON tot.grp = tf.grp
      GROUP BY tf.grp
    )
    SELECT grp AS source, CAST(n_tokens AS BIGINT) AS n_tokens, vocab,
           {R("h", 6)} AS entropy_bits,
           {R("CASE WHEN vocab <= 1 THEN 0.0 ELSE h / log2(CAST(vocab AS DOUBLE)) END", 6)} AS norm_entropy
    FROM e
    """,
)
def _q_token_entropy_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-slice diversity: Shannon token entropy + log2(vocab)-
    normalized evenness per document source (`tx.token_entropy`) —
    the blend-health metric a 100 TB pretraining mix is monitored by.
    Vocabulary-bounded shuffles only; see the operator docstring for
    the log2 determinism discipline (6-dp terms, decimal sum)."""
    return tx.token_entropy(_table(spark, sf_dir, "documents"), group_col="source")


@register(
    "text_zipf_slope_by_source",
    f"""
    WITH toks AS (
      SELECT source, t.token
      FROM documents,
           LATERAL (SELECT unnest(string_split(trim(text), ' ')) AS token) t
      WHERE text IS NOT NULL AND len(t.token) > 0
    ),
    tf AS (SELECT source, token, count(*) AS c FROM toks GROUP BY source, token),
    ranked AS (
      SELECT source, c,
             row_number() OVER (
               PARTITION BY source ORDER BY c DESC, token ASC
             ) AS rnk
      FROM tf
    ),
    pts AS (
      SELECT source,
             {sql_rd("log2(CAST(rnk AS DOUBLE))", 9)} AS x,
             {sql_rd("log2(CAST(c AS DOUBLE))", 9)} AS y
      FROM ranked WHERE rnk <= {_ZIPF_TOP}
    ),
    s AS (
      SELECT source, count(*) AS n,
             CAST(sum(CAST(x AS DECIMAL(38,9))) AS DOUBLE) AS sx,
             CAST(sum(CAST(y AS DECIMAL(38,9))) AS DOUBLE) AS sy,
             CAST(sum(CAST({sql_rd("x * y", 9)} AS DECIMAL(38,9))) AS DOUBLE) AS sxy,
             CAST(sum(CAST({sql_rd("x * x", 9)} AS DECIMAL(38,9))) AS DOUBLE) AS sxx
      FROM pts GROUP BY source
    )
    SELECT source, CAST(n AS BIGINT) AS n_ranks,
           {R("(n * sxy - sx * sy) / (n * sxx - sx * sx)", 6)} AS zipf_slope
    FROM s WHERE n > 1
    """,
)
def _q_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    f"""Zipf exponent per corpus slice: OLS slope of log2(freq) on
    log2(rank) over the top {_ZIPF_TOP} ranks — natural language sits
    near −1; a slice drifting toward 0 is template/boilerplate spam
    and a slice plunging below −1.5 is a collapsed vocabulary. The
    closed-form detrend discipline (F6) in log-log space: 9-dp-rounded
    terms, decimal sums, one final IEEE division — and the fit is
    rank-bounded, so corpus size only touches the first aggregation."""
    docs = _table(spark, sf_dir, "documents")
    toks = (
        docs.filter(F.col("text").isNotNull())
        .select(
            "source",
            F.explode(F.split(F.trim(F.col("text")), " ")).alias("token"),
        )
        .filter(F.length("token") > 0)
    )
    tf = toks.groupBy("source", "token").agg(F.count(F.lit(1)).alias("c"))
    wr = Window.partitionBy("source").orderBy(
        F.col("c").desc(), F.col("token").asc()
    )
    pts = (
        tf.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= _ZIPF_TOP)
        .select(
            "source",
            rd(F.log2(F.col("rnk").cast("double")), 9).alias("x"),
            rd(F.log2(F.col("c").cast("double")), 9).alias("y"),
        )
    )
    s = pts.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast("decimal(38,9)")).cast("double").alias("sx"),
        F.sum(F.col("y").cast("decimal(38,9)")).cast("double").alias("sy"),
        F.sum(rd(F.col("x") * F.col("y"), 9).cast("decimal(38,9)"))
        .cast("double")
        .alias("sxy"),
        F.sum(rd(F.col("x") * F.col("x"), 9).cast("decimal(38,9)"))
        .cast("double")
        .alias("sxx"),
    )
    return s.filter(F.col("n") > 1).select(
        "source",
        F.col("n").cast("long").alias("n_ranks"),
        rd(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")),
            6,
        ).alias("zipf_slope"),
    )


# ---------------------------------------------------------------------------
# Per-doc n-gram novelty (memorization-risk screen)
# ---------------------------------------------------------------------------


@register(
    "text_ngram_novelty",
    """
    WITH w AS (
      SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents
      WHERE text IS NOT NULL
    ),
    g AS (
      SELECT DISTINCT doc_id,
             md5(array_to_string(w[i.i:i.i+2], ' ')) AS gd
      FROM w, LATERAL (SELECT unnest(generate_series(1, len(w) - 2)) AS i) i
      WHERE len(w) >= 3
    ),
    dfreq AS (SELECT gd, count(*) AS df FROM g GROUP BY gd)
    SELECT g.doc_id, count(*) AS n_grams,
           CAST(count(*) FILTER (WHERE dfreq.df <= 1) AS BIGINT) AS n_rare,
           CAST(floor(CAST(count(*) FILTER (WHERE dfreq.df <= 1) AS DOUBLE)
                      / count(*) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0
             AS novelty
    FROM g JOIN dfreq ON dfreq.gd = g.gd
    GROUP BY g.doc_id
    """,
)
def _q_text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc trigram novelty (`tx.ngram_novelty`): the fraction of a
    doc's distinct trigrams appearing in exactly one document —
    keep-or-cut signal (high = unique content, ~0 = assembled
    boilerplate) and, inverted, the memorization-risk screen. Digests
    shuffle, text never does; document frequency is one digest-keyed
    count joined back on the same key."""
    return tx.ngram_novelty(_table(spark, sf_dir, "documents"), n=3, rare_df=1)


@register(
    "text_lang_confusion",
    f"""
    WITH scored AS (
      SELECT doc_id, lang,
             {", ".join(f"{_lang_score_sql(lang)} AS s_{lang}" for lang in tx.LANG_MARKERS)}
      FROM documents
    ),
    pred AS (SELECT doc_id, lang, {_LANG_CASE} AS lang_pred FROM scored),
    cm AS (SELECT lang, lang_pred, count(*) AS n FROM pred GROUP BY lang, lang_pred),
    marg AS (SELECT lang, sum(n) AS n_label FROM cm GROUP BY lang)
    SELECT cm.lang, cm.lang_pred, CAST(cm.n AS BIGINT) AS n,
           CAST(marg.n_label AS BIGINT) AS n_label,
           {R("CAST(cm.n AS DOUBLE) / CAST(marg.n_label AS DOUBLE)", 6)}
             AS frac_of_label
    FROM cm JOIN marg ON marg.lang = cm.lang
    """,
)
def _q_text_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID CONFUSION MATRIX — the n-gram marker heuristic
    (`tx.language_id`) evaluated against the corpus's stored lang
    labels: per (label, prediction) cell, count and share of the
    label's documents. The diagonal is per-language recall; off-
    diagonal mass says which marker sets collide (the eval a
    heuristic classifier needs before it gates a 100 TB mix — same
    measured-quality policy as `dedup_lsh_eval_report` and
    `emb_retrieval_mrr`). Scan-side scoring (regexp_count codegen),
    one |langs|²-bounded aggregation, one tiny margin join."""
    docs = _table(spark, sf_dir, "documents")
    pred = tx.language_id(docs).select("lang", "lang_pred")
    cm = pred.groupBy("lang", "lang_pred").agg(F.count(F.lit(1)).alias("n"))
    marg = cm.groupBy("lang").agg(F.sum("n").alias("n_label"))
    return cm.join(marg.hint("shuffle_hash"), "lang").select(
        "lang",
        "lang_pred",
        F.col("n").cast("long").alias("n"),
        F.col("n_label").cast("long").alias("n_label"),
        rd(
            F.col("n").cast("double") / F.col("n_label").cast("double"), 6
        ).alias("frac_of_label"),
    )


@register(
    "text_score_calibration",
    f"""
    WITH {_HLS_VS_C4_SQL},
    b AS (
      SELECT sc.logit,
             CASE WHEN surv.doc_id IS NOT NULL THEN 1 ELSE 0 END AS pass,
             least(CAST(floor((round(sc.logit * 1000000, 0) + 500000)
                              / 100000) AS INT), 9) AS bin
      FROM sc LEFT JOIN surv ON surv.doc_id = sc.doc_id
    )
    SELECT CAST(bin AS INTEGER) AS bin,
           {R("bin / 10.0 - 0.5", 6)} AS bin_lo,
           CAST(count(*) AS BIGINT) AS n_docs,
           {R(f"{_sql_dsum('logit', 6)} / count(*)", 6)} AS mean_logit,
           CAST(sum(pass) AS BIGINT) AS n_pass,
           {R("CAST(sum(pass) AS DOUBLE) / count(*)", 6)} AS pass_rate
    FROM b GROUP BY bin
    """,
)
def _q_text_score_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RELIABILITY DIAGRAM for the cheap model-based quality scorer:
    `tx.hashed_linear_score` logits binned into ten fixed-width bins
    over the score's closed range [-0.5, 0.5], each bin scored by the
    fraction of its documents that survive the EXPENSIVE rule-based
    C4 gate. This is the calibration eval that decides whether the
    one-scan linear scorer can pre-prune a 100 TB crawl before the
    48-string-pass C4 filter runs (monotone pass_rate across bins =
    yes, and the bin edges give the threshold): same measured-quality
    family as the LSH/SimHash eval matrix. Bin ids come from the
    ROUNDED 6-dp logit via exact integer micro-units (round to the
    integer grid first, divide on the grid — both engines floor the
    same rational), so no float bin-edge ambiguity exists. One scan
    per side, one doc_id-keyed left join, 10-row output."""
    docs = _table(spark, sf_dir, "documents")
    # r14 (guide §2.3/§2.4): scorer + gate label in ONE scan — the old
    # two-scan + doc_id-join shape paid the corpus twice per query.
    j = tx.hls_vs_c4_frame(docs)
    bin_col = F.least(
        F.floor(
            (F.round(F.col("logit") * 1000000, 0) + F.lit(500000))
            / F.lit(100000)
        ).cast("int"),
        F.lit(9),
    )
    binned = j.select(
        bin_col.alias("bin"),
        F.col("logit"),
        F.coalesce(F.col("__pass"), F.lit(0)).alias("pass"),
    )
    agg = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        rd(_dsum(F.col("logit"), 6) / F.count(F.lit(1)), 6).alias("mean_logit"),
        F.sum("pass").cast("long").alias("n_pass"),
        rd(F.sum("pass").cast("double") / F.count(F.lit(1)), 6).alias(
            "pass_rate"
        ),
    )
    return agg.select(
        "bin",
        rd(F.col("bin") / F.lit(10.0) - F.lit(0.5), 6).alias("bin_lo"),
        "n_docs",
        "mean_logit",
        "n_pass",
        "pass_rate",
    )


@register(
    "text_jsd_source_divergence",
    f"""
    WITH toks AS (
      SELECT source AS grp, t.token
      FROM documents,
           LATERAL (SELECT unnest(string_split(trim(text), ' ')) AS token) t
      WHERE text IS NOT NULL AND len(t.token) > 0
    ),
    tf AS (SELECT grp, token, count(*) AS c FROM toks GROUP BY grp, token),
    gt AS (SELECT token, sum(c) AS cg FROM tf GROUP BY token),
    ns AS (SELECT grp, sum(c) AS n FROM tf GROUP BY grp),
    nt AS (SELECT sum(cg) AS ntot FROM gt),
    terms AS (
      SELECT tf.grp,
             CAST(tf.c AS DOUBLE) / ns.n AS p,
             CAST(gt.cg AS DOUBLE) / nt.ntot AS q
      FROM tf
      JOIN ns ON ns.grp = tf.grp
      JOIN gt ON gt.token = tf.token
      CROSS JOIN nt
    ),
    e AS (
      SELECT grp,
             CAST(sum(CAST({sql_rd("0.5 * p * log2(2.0 * p / (p + q))", 6)}
                  AS DECIMAL(38,6))) AS DOUBLE) AS pterm,
             CAST(sum(CAST({sql_rd("0.5 * q * log2(2.0 * q / (p + q))", 6)}
                  AS DECIMAL(38,6))) AS DOUBLE) AS qterm_in,
             CAST(sum(CAST({sql_rd("q", 6)} AS DECIMAL(38,6))) AS DOUBLE) AS qmass
      FROM terms GROUP BY grp
    )
    SELECT grp AS source,
           {R("pterm + qterm_in + 0.5 * (1.0 - qmass)", 6)} AS jsd_bits
    FROM e
    """,
)
def _q_text_jsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence (bits) between each source's unigram
    distribution and the WHOLE-CORPUS distribution — the mix-balance
    audit that ranks sources by lexical distance from the blend
    (entropy says how diverse a source is; JSD says how FAR it sits
    from the mix; MI covered dependence — this completes the repo's
    information-theoretic family). Tokens ABSENT from a source
    contribute q·log2(2q/(0+q)) = q exactly, so the out-of-support
    tail collapses to the closed form ½(1 − Σ_{{t∈s}} q_t) and the
    computation never materializes the |V|×|sources| zero grid — only
    (source, token) cells that EXIST shuffle (the vocabulary-bounded
    discipline). Per-term 6-dp rounding + decimal sums (the
    entropy-query determinism rule; log2 terms rounded before any
    accumulation)."""
    docs = _table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    tok = docs.select(
        F.col("source").alias("grp"),
        F.explode(
            F.filter(
                F.split(F.trim(F.col("text")), " "),
                lambda x: F.length(x) > 0,
            )
        ).alias("token"),
    )
    # r13 (guide §2.4): tf feeds three independent aggregations (gt,
    # ns, terms) — without materialization the scan+split+explode
    # subtree re-executed per consumer. Vocabulary-bounded
    # (source, token) cells; lazy checkpoint, one execution.
    tf = (
        tok.groupBy("grp", "token")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    gt = tf.groupBy("token").agg(F.sum("c").alias("cg"))
    ns = tf.groupBy("grp").agg(F.sum("c").alias("n"))
    nt = gt.agg(F.sum("cg").alias("ntot"))
    terms = (
        tf.join(ns.hint("shuffle_hash"), "grp")
        .join(gt.hint("shuffle_hash"), "token")
        .crossJoin(F.broadcast(nt))
        .select(
            "grp",
            (F.col("c").cast("double") / F.col("n")).alias("__p"),
            (F.col("cg").cast("double") / F.col("ntot")).alias("__q"),
        )
    )
    p, q = F.col("__p"), F.col("__q")
    e = terms.groupBy("grp").agg(
        F.sum(
            rd(F.lit(0.5) * p * F.log2(F.lit(2.0) * p / (p + q)), 6).cast(
                "decimal(38,6)"
            )
        )
        .cast("double")
        .alias("__pterm"),
        F.sum(
            rd(F.lit(0.5) * q * F.log2(F.lit(2.0) * q / (p + q)), 6).cast(
                "decimal(38,6)"
            )
        )
        .cast("double")
        .alias("__qterm"),
        F.sum(rd(q, 6).cast("decimal(38,6)")).cast("double").alias("__qmass"),
    )
    return e.select(
        F.col("grp").alias("source"),
        rd(
            F.col("__pterm")
            + F.col("__qterm")
            + F.lit(0.5) * (F.lit(1.0) - F.col("__qmass")),
            6,
        ).alias("jsd_bits"),
    )


@register("text_bpe_merge_rounds", _bpe_oracle_sql(_BPE_ROUNDS))
def _q_text_bpe_merge_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE-style merge training (`tx.bpe_merge_trainer`,
    word-level Sennrich et al. 2016 — equivalently greedy phrase
    mining): five rounds of most-frequent-adjacent-pair merge over the
    whole corpus, later rounds free to merge earlier merges into
    longer phrases. The returned merge table IS the trained tokenizer
    artifact. Per round: one token scan (zip_with slices → pair
    explode → map-side-combined count), top-1 via TakeOrdered (no
    global sort), then the corpus rewrite as ONE `F.aggregate` fold
    per document (struct (arr, carry) state, leftmost-first
    non-overlapping) — all codegen; lineage truncated per round. The
    oracle unrolls all five rounds verbatim, fold included."""
    docs = _table(spark, sf_dir, "documents")
    return tx.bpe_merge_trainer(docs, rounds=_BPE_ROUNDS)


@register(
    "text_chunk_centrality",
    f"""
    WITH base AS (
      SELECT doc_id,
             list_filter(string_split(trim(text), ' '), x -> length(x) > 0) AS ts
      FROM documents WHERE text IS NOT NULL
    ),
    sized AS (SELECT doc_id, ts, len(ts) AS n FROM base WHERE len(ts) > 0),
    ex AS (
      SELECT doc_id, ts, n,
             CAST(unnest(generate_series(0,
               CASE WHEN n <= {_CENT_C} THEN 0
                    ELSE CAST(ceil((n - {_CENT_C}) / {float(_CENT_C)}) AS INT) END)) AS INT)
               AS cid
      FROM sized
    ),
    chtok AS (
      SELECT doc_id, cid,
             unnest(list_distinct(
               list_slice(ts, cid * {_CENT_C} + 1, cid * {_CENT_C} + {_CENT_C})))
               AS tok
      FROM ex
    ),
    sizes AS (SELECT doc_id, cid, count(*) AS sz FROM chtok GROUP BY 1, 2),
    ov AS (
      SELECT a.doc_id, a.cid AS i, b.cid AS j, count(*) AS ov
      FROM chtok a
      JOIN chtok b ON a.doc_id = b.doc_id AND a.tok = b.tok AND a.cid <> b.cid
      GROUP BY 1, 2, 3
    ),
    edges AS (
      SELECT ov.doc_id, i, j,
             {R("CAST(ov AS DOUBLE) / CAST(si.sz + sj.sz AS DOUBLE)", 9)} AS w
      FROM ov
      JOIN sizes si ON si.doc_id = ov.doc_id AND si.cid = ov.i
      JOIN sizes sj ON sj.doc_id = ov.doc_id AND sj.cid = ov.j
    ),
    wsum AS (
      SELECT doc_id, j,
             CAST(sum(CAST(w AS DECIMAL(38,9))) AS DOUBLE) AS ws
      FROM edges GROUP BY 1, 2
    ),
    trans AS (
      SELECT e.doc_id, e.i, e.j, e.w / s.ws AS t
      FROM edges e JOIN wsum s ON s.doc_id = e.doc_id AND s.j = e.j
    ),
    nper AS (SELECT doc_id, count(*) AS ns FROM ex GROUP BY 1),
    pr0 AS (
      SELECT e.doc_id, e.cid, 1.0 / np.ns AS pr, np.ns
      FROM ex e JOIN nper np USING (doc_id)
    ),
    {_cent_iter_sql("pr0", "c1", "pr1")},
    {_cent_iter_sql("pr1", "c2", "pr2")}
    SELECT doc_id, CAST(cid AS INT) AS top_chunk_id,
           CAST(ns AS BIGINT) AS n_chunks, {R("pr", 6)} AS centrality
    FROM pr2
    QUALIFY row_number() OVER (PARTITION BY doc_id
                               ORDER BY pr DESC, cid ASC) = 1
    """,
)
def _q_text_chunk_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank chunk centrality (`tx.chunk_centrality`, Mihalcea &
    Tarau 2004 over 12-token windows): each document's most
    REPRESENTATIVE chunk by two exact weighted-PageRank iterations
    over the within-doc chunk-overlap graph — the budget-truncation
    primitive that beats lead-bias truncation. Weights are exact
    integer ratios, every float sum 9-dp decimal-accumulated, the
    recurrence unrolled verbatim in the oracle (the pagerank
    precedent); pair volume is bounded per doc by its own chunk
    count."""
    docs = _table(spark, sf_dir, "documents")
    return tx.chunk_centrality(docs, chunk_tokens=_CENT_C, damping=_CENT_D)


# ---------------------------------------------------------------------------
# r7 wave 43: lexical complexity + cross-source duplication matrix
# ---------------------------------------------------------------------------


@register(
    "text_lexical_complexity_by_source",
    f"""
    WITH toks AS (
      SELECT source, t.tok
      FROM documents,
           unnest(list_filter(string_split(trim(lower(text)), ' '),
                              x -> length(x) > 0)) AS t(tok)
      WHERE text IS NOT NULL
    ),
    m AS (
      SELECT source, count(*) AS n_words,
             sum(length(tok)) AS n_chars,
             sum(len(regexp_extract_all(tok, '[aeiou]+'))) AS n_syll,
             sum(CASE WHEN length(tok) >= 7 THEN 1 ELSE 0 END) AS n_long,
             sum(CASE WHEN len(regexp_extract_all(tok, '[aeiou]+')) <= 1
                 THEN 1 ELSE 0 END) AS n_mono
      FROM toks GROUP BY source
    )
    SELECT source, CAST(n_words AS BIGINT) AS n_words,
           {R("CAST(n_chars AS DOUBLE) / n_words", 6)} AS mean_word_len,
           {R("CAST(n_syll AS DOUBLE) / n_words", 6)} AS mean_syllables,
           {R("CAST(n_long AS DOUBLE) / n_words", 6)} AS pct_long_words,
           {R("CAST(n_mono AS DOUBLE) / n_words", 6)} AS pct_monosyllabic
    FROM m
    """,
)
def _q_text_lexical_complexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source LEXICAL COMPLEXITY profile: mean word length,
    vowel-group syllable estimate, long-word and monosyllabic
    fractions — the readability-class quality signals (the exact
    integer counts under Flesch/Coleman-Liau style scores, reported
    raw rather than through a sentence-dependent formula this corpus
    can't support). Complexity outliers flag OCR junk and boilerplate
    the C4 string rules miss. One token explode + one map-side-
    combined agg; every ratio is an exact-integer division."""
    docs = _table(spark, sf_dir, "documents")
    toks = docs.filter(F.col("text").isNotNull()).select(
        "source",
        F.explode(
            F.filter(
                F.split(F.trim(F.lower(F.col("text"))), " "),
                lambda x: F.length(x) > 0,
            )
        ).alias("__tok"),
    )
    syll = F.size(F.expr("regexp_extract_all(__tok, '[aeiou]+', 0)"))
    m = toks.groupBy("source").agg(
        F.count(F.lit(1)).alias("__nw"),
        F.sum(F.length("__tok")).alias("__nc"),
        F.sum(syll).alias("__ns"),
        F.sum(F.when(F.length("__tok") >= 7, 1).otherwise(0)).alias("__nl"),
        F.sum(F.when(syll <= 1, 1).otherwise(0)).alias("__nm"),
    )
    nw = F.col("__nw").cast("double")
    return m.select(
        "source",
        F.col("__nw").cast("long").alias("n_words"),
        rd(F.col("__nc").cast("double") / nw, 6).alias("mean_word_len"),
        rd(F.col("__ns").cast("double") / nw, 6).alias("mean_syllables"),
        rd(F.col("__nl").cast("double") / nw, 6).alias("pct_long_words"),
        rd(F.col("__nm").cast("double") / nw, 6).alias("pct_monosyllabic"),
    )


@register(
    "text_bpe_encode_counts",
    _bpe_cte(_BPE_ROUNDS)
    + f""",
    enc AS (
      SELECT doc_id,
             CAST(len({_BPE_PAIR_TOKS}) AS BIGINT) AS n_tokens_bpe
      FROM s{_BPE_ROUNDS}
    )
    SELECT t0.doc_id,
           CAST(len(t0.toks) AS BIGINT) AS n_tokens_raw,
           enc.n_tokens_bpe,
           CAST(len(t0.toks) AS BIGINT) - enc.n_tokens_bpe AS n_merged
    FROM t0 JOIN enc ON enc.doc_id = t0.doc_id
    """,
)
def _q_text_bpe_encode_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLICATION (`tx.bpe_encode`): train the 5-round merge
    table (`tx.bpe_train_merges`, the r7 trainer's driver-side form),
    then ENCODE every document with it — the trainer's
    leftmost-non-overlapping `_merge_fold` applied per merge in
    training order, merge table shipped as literals (no join, no
    shuffle, no Python; one scan-side codegen pass, expression depth
    bounded by `checkpoint_every` for production-size tables). Output:
    per-doc raw vs encoded token counts and the merge applications
    (raw − encoded: each application shortens the doc by exactly one
    token). The oracle replays training AND encoding through the same
    delimiter-guarded CTE chain (`_bpe_cte`) the trainer oracle uses."""
    docs = _table(spark, sf_dir, "documents")
    merges = tx.bpe_train_merges(docs, rounds=_BPE_ROUNDS)
    enc = tx.bpe_encode_auto(docs, merges)
    return enc.select(
        "doc_id",
        "n_tokens_raw",
        F.size("bpe_tokens").cast("long").alias("n_tokens_bpe"),
        (F.col("n_tokens_raw") - F.size("bpe_tokens").cast("long")).alias(
            "n_merged"
        ),
    )


@register(
    "text_bpe_fertility_by_lang",
    _bpe_cte(_BPE_ROUNDS)
    + f""",
    enc AS (
      SELECT doc_id,
             CAST(len({_BPE_PAIR_TOKS}) AS BIGINT) AS n_bpe
      FROM s{_BPE_ROUNDS}
    ),
    j AS (
      SELECT d.lang, CAST(len(t0.toks) AS BIGINT) AS n_words, enc.n_bpe
      FROM t0 JOIN enc ON enc.doc_id = t0.doc_id
      JOIN documents d ON d.doc_id = t0.doc_id
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_words) AS BIGINT) AS n_words,
           CAST(sum(n_bpe) AS BIGINT) AS n_bpe_tokens,
           {R("CAST(sum(n_bpe) AS DOUBLE) / sum(n_words)", 6)} AS fertility,
           {R("CAST(sum(n_words) - sum(n_bpe) AS DOUBLE)"
              " / sum(n_words)", 6)} AS merge_rate
    FROM j WHERE n_words > 0 GROUP BY lang
    """,
)
def _q_text_bpe_fertility_by_lang(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TOKENIZER FERTILITY by language — the eval table a tokenizer
    ships with (how many tokens the encoder spends per word, per
    language slice): train the 5-round merge table on the WHOLE corpus
    (one tokenizer, like production), `bpe_encode` every document, and
    report per-lang fertility = bpe_tokens/words (1.0 = no merges
    apply — the tokenizer underserves that language, the
    multilingual-equity number) and merge_rate = fraction of words
    absorbed into merges. Same train+encode machinery as
    `text_bpe_encode_counts` (oracle replays it through `_bpe_cte`),
    plus one lang-keyed aggregation."""
    docs = _table(spark, sf_dir, "documents")
    merges = tx.bpe_train_merges(docs, rounds=_BPE_ROUNDS)
    enc = tx.bpe_encode_auto(docs, merges)
    j = enc.join(
        docs.select("doc_id", "lang").hint("shuffle_hash"), "doc_id"
    ).filter(F.col("n_tokens_raw") > 0)
    return j.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens_raw").cast("long").alias("n_words"),
        F.sum(F.size("bpe_tokens").cast("long")).cast("long").alias(
            "n_bpe_tokens"
        ),
        rd(
            F.sum(F.size("bpe_tokens").cast("long")).cast("double")
            / F.sum("n_tokens_raw"),
            6,
        ).alias("fertility"),
        rd(
            (
                F.sum("n_tokens_raw")
                - F.sum(F.size("bpe_tokens").cast("long"))
            ).cast("double")
            / F.sum("n_tokens_raw"),
            6,
        ).alias("merge_rate"),
    )


@register(
    "retrieval_chunk_topk",
    f"""
    WITH t0 AS (
      SELECT doc_id,
             list_filter(string_split(trim(text), ' '),
                         x -> length(x) > 0) AS toks
      FROM documents WHERE text IS NOT NULL
    ),
    b AS (
      SELECT doc_id, toks, len(toks) AS n,
             CASE WHEN len(toks) <= {_CHUNK_T} THEN 1
                  ELSE CAST(ceil((len(toks) - {_CHUNK_T})
                                 / {float(_CHUNK_T - _CHUNK_OV)}) AS INTEGER) + 1
             END AS nc
      FROM t0 WHERE len(toks) > 0
    ),
    ch AS (
      SELECT doc_id, CAST(c.c AS INTEGER) AS chunk_id,
             list_slice(toks, c.c * {_CHUNK_T - _CHUNK_OV} + 1,
                        c.c * {_CHUNK_T - _CHUNK_OV} + {_CHUNK_T}) AS piece,
             least({_CHUNK_T}, n - c.c * {_CHUNK_T - _CHUNK_OV}) AS dl
      FROM b, LATERAL (SELECT unnest(range(0, nc)) AS c) c
    ),
    ctoks AS (
      SELECT doc_id, chunk_id, t.token
      FROM ch, LATERAL (SELECT unnest(piece) AS token) t
      WHERE length(t.token) > 0
    ),
    stats AS (
      SELECT count(*) AS n_chunks,
             CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
      FROM ch
    ),
    tf AS (
      SELECT doc_id, chunk_id, token, count(*) AS tf
      FROM ctoks
      WHERE token IN ({", ".join(repr(t) for t in _CHUNK_RET_TERMS)})
      GROUP BY 1, 2, 3
    ),
    cfreq AS (SELECT token, count(*) AS cf FROM tf GROUP BY token),
    scored AS (
      SELECT t.doc_id, t.chunk_id,
             CAST({sql_rd(
                 "((CAST(s.n_chunks AS DOUBLE) - CAST(d.cf AS DOUBLE) + 0.5)"
                 " / (CAST(d.cf AS DOUBLE) + 0.5))"
                 " * (CAST(t.tf AS DOUBLE) * 2.2)"
                 " / (CAST(t.tf AS DOUBLE)"
                 "    + 1.2 * (0.25 + 0.75 * CAST(c.dl AS DOUBLE) / s.avgdl))",
                 9,
             )} AS DECIMAL(38,9)) AS s
      FROM tf t
      JOIN cfreq d ON d.token = t.token
      JOIN ch c ON c.doc_id = t.doc_id AND c.chunk_id = t.chunk_id
      CROSS JOIN stats s
    ),
    per_chunk AS (
      SELECT doc_id, chunk_id,
             count(*) AS n_terms_matched, sum(s) AS s
      FROM scored GROUP BY 1, 2
    ),
    best AS (
      SELECT * FROM per_chunk
      QUALIFY row_number() OVER (
        PARTITION BY doc_id ORDER BY s DESC, chunk_id ASC) = 1
    )
    SELECT doc_id, chunk_id AS best_chunk_id,
           CAST(n_terms_matched AS BIGINT) AS n_terms_matched,
           {R("CAST(s AS DOUBLE)", 6)} AS score
    FROM best
    ORDER BY s DESC, doc_id ASC
    LIMIT {_CHUNK_RET_K}
    """,
)
def _q_retrieval_chunk_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHUNK-level BM25 retrieval — the RAG-shaped query: score every
    32-token chunk (`tx.chunk_documents`, overlap 8) against the query
    bag, keep each DOCUMENT's best chunk (dedup-by-doc, the step that
    stops one long document flooding the context window), return the
    global top-10. BM25 follows `tx.bm25_topk`'s portability rules
    (un-logged idf ratio, 9-dp decimal term sums) with chunk-corpus
    statistics (N = chunks, avgdl over chunk lengths — chunk dl comes
    free from the chunker, no re-count). Plan: chunking is scan-side
    (sequence + slice fan-out, no shuffle), the query-term isin lands
    on the exploded-token scan, tf/cf move only (chunk, query-term)
    rows, best-chunk is one doc-keyed window over matched chunks only,
    top-10 is TakeOrdered. Oracle replays chunking (list_slice stride
    arithmetic), scoring, and both ranks verbatim."""
    docs = _table(spark, sf_dir, "documents")
    ch = tx.chunk_documents(
        docs, chunk_tokens=_CHUNK_T, overlap=_CHUNK_OV
    )
    toks = ch.select(
        "doc_id",
        "chunk_id",
        F.explode(F.split(F.col("chunk_text"), " ")).alias("token"),
    ).filter(F.length("token") > 0)
    dl = ch.select("doc_id", "chunk_id", F.col("n_tokens").alias("__dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("__n_chunks"),
        (
            F.sum("__dl").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("__avgdl"),
    )
    tf = (
        toks.filter(F.col("token").isin(list(_CHUNK_RET_TERMS)))
        .groupBy("doc_id", "chunk_id", "token")
        .agg(F.count(F.lit(1)).alias("__tf"))
    )
    cfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("__cf"))
    joined = (
        tf.join(cfreq.hint("shuffle_hash"), "token")
        .join(dl.hint("shuffle_hash"), ["doc_id", "chunk_id"])
        .crossJoin(F.broadcast(stats))
    )
    idf = (
        F.col("__n_chunks").cast("double")
        - F.col("__cf").cast("double")
        + F.lit(0.5)
    ) / (F.col("__cf").cast("double") + F.lit(0.5))
    denom = F.col("__tf").cast("double") + F.lit(1.2) * (
        F.lit(0.25) + F.lit(0.75) * F.col("__dl").cast("double") / F.col("__avgdl")
    )
    term_score = idf * (F.col("__tf").cast("double") * F.lit(2.2)) / denom
    per_chunk = (
        joined.select(
            "doc_id",
            "chunk_id",
            rd(term_score, 9).cast("decimal(38,9)").alias("__s"),
        )
        .groupBy("doc_id", "chunk_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms_matched"),
            F.sum("__s").alias("__s"),
        )
    )
    wbest = Window.partitionBy("doc_id").orderBy(
        F.col("__s").desc(), F.col("chunk_id").asc()
    )
    best = (
        per_chunk.withColumn("__rn", F.row_number().over(wbest))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    return (
        best.orderBy(F.col("__s").desc(), F.col("doc_id").asc())
        .limit(_CHUNK_RET_K)
        .select(
            "doc_id",
            F.col("chunk_id").alias("best_chunk_id"),
            F.col("n_terms_matched").cast("long").alias("n_terms_matched"),
            rd(F.col("__s").cast("double"), 6).alias("score"),
        )
    )


@register(
    "text_bpe_suite",
    _bpe_cte(_BPE_ROUNDS)
    + f""",
    enc AS (
      SELECT doc_id,
             CAST(len({_BPE_PAIR_TOKS}) AS BIGINT) AS n_bpe
      FROM s{_BPE_ROUNDS}
    ),
    j AS (
      SELECT d.doc_id, d.lang,
             CAST(len(t0.toks) AS BIGINT) AS n_words, enc.n_bpe,
             {sp.sql_hash_u32("d.doc_id")} AS h
      FROM t0 JOIN enc ON enc.doc_id = t0.doc_id
      JOIN documents d ON d.doc_id = t0.doc_id
    ),
    fert AS (
      SELECT lang,
             count(*) AS n_docs,
             sum(n_words) AS n_words,
             sum(n_bpe) AS n_bpe_tokens,
             CAST(floor(CAST(sum(n_bpe) AS DOUBLE) * 1000000.0
                        / sum(n_words) + 0.5) AS BIGINT) AS fertility_e6
      FROM j WHERE n_words > 0 GROUP BY lang
    ),
    c AS (
      SELECT doc_id, n_bpe AS n_tokens,
             CAST(sum(n_bpe) OVER (ORDER BY h, doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS tok_end
      FROM j
    ),
    o AS (
      SELECT n_tokens, tok_end,
             CAST(floor((tok_end - n_tokens) / 512.0) AS BIGINT) AS first_seq,
             CAST(floor((tok_end - 1) / 512.0) AS BIGINT) AS last_seq
      FROM c WHERE n_tokens > 0
    ),
    pk AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
             CAST((sum(n_tokens) + 511) // 512 AS BIGINT) AS n_sequences,
             CAST(sum(CASE WHEN first_seq < last_seq THEN 1 ELSE 0 END)
                  AS BIGINT) AS split_docs,
             CAST(sum(last_seq - first_seq + 1) AS BIGINT) AS fragments,
             CAST(((sum(n_tokens) + 511) // 512) * 512 - sum(n_tokens)
                  AS BIGINT) AS tail_pad_tokens
      FROM o
    )
    {_bpe_suite_unpivot_sql()}
    """,
)
def _q_text_bpe_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EVERY TOKENIZER REPORT, ONE TRAINING RUN (the dedup_report_suite
    pattern applied to the BPE family): the three standalone BPE
    queries each retrain the 5-round merge table (~11 s apiece at
    sf0.1) to stay independently oracle-checkable; this suite trains
    ONCE (`tx.bpe_train_merges`), encodes ONCE (`tx.bpe_encode` +
    lazy localCheckpoint so fertility AND packing read one
    materialization), and emits the merge table, the per-lang
    fertility/equity numbers, and the real-token pack audit as
    normalized (section, k, metric, value) rows. Float-free contract:
    fertility ships as floor(1e6·ratio+0.5) micro-units so every value
    is integer-exact in DOUBLE. The standalone queries stay registered;
    the suite is what a tokenizer owner actually runs."""
    docs = _table(spark, sf_dir, "documents")
    merges = tx.bpe_train_merges(docs, rounds=_BPE_ROUNDS)
    enc = tx.bpe_encode_auto(docs, merges).localCheckpoint(eager=False)

    mrows = spark.createDataFrame(
        [
            (
                "merges",
                str(r),
                f"{lhs} + {rhs}",
                float(cnt),
            )
            for (r, lhs, rhs, cnt) in merges
        ],
        "section string, k string, metric string, value double",
    )

    # r13 (guide §2.4): j feeds both the fertility agg and the pack
    # audit — checkpoint so the enc⨝lang join runs once (enc itself is
    # already materialized above).
    j = enc.join(
        docs.select("doc_id", "lang").hint("shuffle_hash"), "doc_id"
    ).select(
        "doc_id",
        "lang",
        "n_tokens_raw",
        F.size("bpe_tokens").cast("long").alias("__nb"),
    ).localCheckpoint(eager=False)
    fert = (
        j.filter(F.col("n_tokens_raw") > 0)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens_raw").cast("long").alias("n_words"),
            F.sum("__nb").cast("long").alias("n_bpe_tokens"),
            F.floor(
                F.sum("__nb").cast("double")
                * 1000000.0
                / F.sum("n_tokens_raw")
                + 0.5
            )
            .cast("long")
            .alias("fertility_e6"),
        )
    )
    frows = fert.withColumn("__k", F.col("lang")).selectExpr(
        "'fertility' AS section",
        "__k AS k",
        "stack(4, 'n_docs', CAST(n_docs AS DOUBLE),"
        " 'n_words', CAST(n_words AS DOUBLE),"
        " 'n_bpe_tokens', CAST(n_bpe_tokens AS DOUBLE),"
        " 'fertility_e6', CAST(fertility_e6 AS DOUBLE)) AS (metric, value)",
    )

    counts = j.select(
        "doc_id", F.col("__nb").alias("n_tokens")
    )
    packed = sp.sequence_pack_offsets(counts, seq_len=512, n_tokens_col="n_tokens")
    audit = _pack_efficiency_agg(packed)
    prows = audit.withColumn("__k", F.lit("_all")).selectExpr(
        "'pack' AS section",
        "__k AS k",
        "stack(6, 'n_docs', CAST(n_docs AS DOUBLE),"
        " 'n_tokens', CAST(n_tokens AS DOUBLE),"
        " 'n_sequences', CAST(n_sequences AS DOUBLE),"
        " 'split_docs', CAST(split_docs AS DOUBLE),"
        " 'fragments', CAST(fragments AS DOUBLE),"
        " 'tail_pad_tokens', CAST(tail_pad_tokens AS DOUBLE))"
        " AS (metric, value)",
    )
    return mrows.unionByName(frows).unionByName(prows)


# ---------------------------------------------------------------------------
# r9 wave 1: merge-count-scalable tokenizer application (VERDICT r8 #2)
# — the ranked-table Arrow kernel, value-checked at TOKEN-SEQUENCE level
# (digest of the encoded sequence, not just counts) against the same
# delimiter-guarded DuckDB replay the fold encoder uses.
# ---------------------------------------------------------------------------


@register(
    "text_bpe_encode_ranked",
    _bpe_cte(_BPE_ROUNDS)
    + f""",
    enc AS (
      SELECT doc_id, {_BPE_PAIR_TOKS} AS toks
      FROM s{_BPE_ROUNDS}
    )
    SELECT t0.doc_id,
           CAST(len(t0.toks) AS BIGINT) AS n_tokens_raw,
           CAST(len(enc.toks) AS BIGINT) AS n_tokens_bpe,
           md5(array_to_string(enc.toks, ' ')) AS tok_digest
    FROM t0 JOIN enc ON enc.doc_id = t0.doc_id
    """,
)
def _q_text_bpe_encode_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The merge-count-SCALABLE encoder (`tx.bpe_encode_ranked`,
    VERDICT r8 #2): train the 5-round merge table, then encode every
    document in ONE Arrow `mapInPandas` pass over the broadcast RANKED
    table — plan depth constant in |merges| (the fold encoder's depth
    is linear: one stage per rule, prohibitive at production 10^4-rule
    tables). Value check is stronger than `text_bpe_encode_counts`:
    the md5 digest of each encoded token SEQUENCE must match the
    oracle's delimiter-guarded replay token for token, proving the
    kernel reproduces `_merge_fold`'s leftmost-non-overlapping
    semantics exactly, not merely the same lengths."""
    docs = _table(spark, sf_dir, "documents")
    merges = tx.bpe_train_merges(docs, rounds=_BPE_ROUNDS)
    enc = tx.bpe_encode_ranked(docs, merges)
    return enc.select(
        "doc_id",
        "n_tokens_raw",
        F.size("bpe_tokens").cast("long").alias("n_tokens_bpe"),
        F.md5(F.concat_ws(" ", "bpe_tokens")).alias("tok_digest"),
    )


# ---------------------------------------------------------------------------
# r11: sample-trained tokenizer + full-corpus encode (VERDICT r10 #5)
# — the production-scale BPE contract as a value-checked query: train
# on a deterministic md5-coin Bernoulli sample of the corpus (the
# sample-to-driver local trainer — merge count no longer multiplies
# Spark jobs), encode the FULL corpus with the learned table via the
# merge-count-constant ranked kernel.
# ---------------------------------------------------------------------------

_BPE_SAMPLE_RATE = 0.25
_BPE_SAMPLE_SEED = "bpe-sample"
_BPE_SAMPLE_THRESHOLD = int(_BPE_SAMPLE_RATE * (1 << 32))


def _bpe_full_encode_chain(rounds: int) -> str:
    """Appended CTEs: tokenize the FULL corpus and apply the (sample-)
    trained merge table m1..m{rounds} round by round — the same
    delimiter-guarded replace the shared chain uses for the training
    corpus, here over every document."""
    parts = [
        """ft AS (
      SELECT doc_id,
             list_filter(string_split(trim(regexp_replace(lower(text),
                 '[^a-z0-9]+', ' ', 'g')), ' '), x -> length(x) > 0) AS toks
      FROM documents WHERE text IS NOT NULL
    ),
    f0 AS (
      SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_raw,
             '|' || array_to_string(toks, '||') || '|' AS s
      FROM ft
    )"""
    ]
    for r in range(1, rounds + 1):
        parts.append(f"""f{r} AS (
      SELECT f.doc_id, f.n_raw,
             replace(f.s, '|' || m.a || '||' || m.b || '|',
                          '|' || m.a || ' ' || m.b || '|') AS s
      FROM f{r - 1} f CROSS JOIN m{r} m
    )""")
    return ",\n    ".join(parts)


@register(
    "text_bpe_sample_train_encode",
    _bpe_cte(
        _BPE_ROUNDS,
        train_where=(
            f"{sp.sql_hash_u32('doc_id', _BPE_SAMPLE_SEED)}"
            f" < {_BPE_SAMPLE_THRESHOLD}"
        ),
    )
    + ",\n    "
    + _bpe_full_encode_chain(_BPE_ROUNDS)
    + f""",
    enc AS (
      SELECT doc_id, n_raw,
             CAST(len({_BPE_PAIR_TOKS}) AS BIGINT) AS n_bpe
      FROM f{_BPE_ROUNDS}
    )
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(enc.n_raw) AS BIGINT) AS n_tokens_raw,
           CAST(sum(enc.n_bpe) AS BIGINT) AS n_tokens_bpe,
           {R("CAST(sum(enc.n_bpe) AS DOUBLE) / sum(enc.n_raw)", 6)} AS fertility
    FROM enc JOIN documents d ON d.doc_id = enc.doc_id
    WHERE enc.n_raw > 0
    GROUP BY d.source
    """,
)
def _q_text_bpe_sample_train_encode(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PRODUCTION-SCALE tokenizer contract, value-checked end-to-end
    (VERDICT r10 #5): train the merge table on a {_BPE_SAMPLE_RATE:.0%}
    deterministic Bernoulli sample of the corpus (portable md5 coin —
    the identical doc set in Spark, DuckDB, and any retry/layout), via
    the SAMPLE-TO-DRIVER local trainer (`tx.bpe_train_merges_local`:
    one bounded collect, pure-Python rounds with the distributed
    trainer's exact tie-breaks — a 10^4-merge vocabulary costs zero
    additional Spark jobs); then encode the FULL corpus with the
    learned table in ONE merge-count-constant Arrow pass
    (`tx.bpe_encode_auto` → ranked kernel) and report per-source
    fertility. This is the sanctioned 100 TB path — training cost
    scales with the sample, encode with the corpus, neither with
    |merges| — and the oracle replays BOTH halves verbatim: the
    sampled training chain (t0 restricted by the same md5 predicate)
    and the full-corpus round-by-round rewrite."""
    docs = _table(spark, sf_dir, "documents")
    merges = tx.bpe_train_merges_local(
        docs,
        rounds=_BPE_ROUNDS,
        sample_rate=_BPE_SAMPLE_RATE,
        sample_seed=_BPE_SAMPLE_SEED,
    )
    enc = tx.bpe_encode_auto(docs, merges).filter(F.col("n_tokens_raw") > 0)
    j = enc.join(
        _table(spark, sf_dir, "documents").select("doc_id", "source"),
        "doc_id",
    )
    return j.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens_raw").cast("long").alias("n_tokens_raw"),
        F.sum(F.size("bpe_tokens")).cast("long").alias("n_tokens_bpe"),
        rd(
            F.sum(F.size("bpe_tokens")).cast("double")
            / F.sum("n_tokens_raw").cast("double"),
            6,
        ).alias("fertility"),
    )


@register("retrieval_mmr_topk", _MMR_SQL)
def _q_retrieval_mmr_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    f"""MMR diversification (`sim.mmr_diversify`, Carbonell & Goldstein
    1998): per standard probe, the exact-cosine top-{_MMR_SHORT}
    shortlist greedily re-ranked by λ·rel − (1−λ)·max-sim-to-selected
    (λ={_MMR_LAM}, k={_MMR_K}) — the post-retrieval pass that stops
    near-duplicate hits from crowding a RAG context window. The greedy
    recurrence is sequential in k, so it runs as one Catalyst
    `F.aggregate` fold over each query's BOUNDED collected shortlist
    (the DTW precedent: per-key bounded arrays + fold = pure codegen,
    no Python, no driver loop, k fold steps at plan time). The oracle
    replays the walk as {_MMR_K} unrolled steps (argmax by (score
    desc, id), selected-set max-sim via the precomputed shortlist
    pair-cosine table); every cosine is the repo's decimal-exact dot,
    6-dp rounded, so both engines pick the same candidate at every
    step."""
    emb = spread_scan(_table(spark, sf_dir, "embeddings"), "vec_id")
    # r13 (guide §2.4): ex feeds qex, norms, and the dots join — the
    # lazy form re-ran the scan+posexplode 3×.
    # NOTE (r14 checkpoint policy, VERDICT r13 #6): O(N·D) — unbounded.
    # 3 consumers vs one narrow snapshot; executor loss fails the job,
    # retry recomputes from parquet. Reliable-dir candidate at scale.
    ex = emb.select(
        "vec_id", F.posexplode("embedding").alias("i", "x")
    ).withColumn("x", F.col("x").cast("double")).localCheckpoint(eager=False)
    qex = ex.filter(F.col("vec_id") < _RECALL_Q).select(
        F.col("vec_id").alias("qid"), "i", F.col("x").alias("__qx")
    )
    norms = ex.groupBy("vec_id").agg(
        F.sqrt(
            F.sum(rd(F.col("x") * F.col("x"), 9).cast("decimal(38,9)")).cast(
                "double"
            )
        ).alias("__nrm")
    ).localCheckpoint(eager=False)
    dots = (
        ex.join(F.broadcast(qex), "i")
        .filter(F.col("vec_id") != F.col("qid"))
        .groupBy("qid", "vec_id")
        .agg(
            F.sum(rd(F.col("__qx") * F.col("x"), 9).cast("decimal(38,9)"))
            .cast("double")
            .alias("__dxy")
        )
    )
    cos = (
        dots.join(
            F.broadcast(
                norms.select(
                    F.col("vec_id").alias("qid"), F.col("__nrm").alias("__nq")
                ).filter(F.col("qid") < _RECALL_Q)
            ),
            "qid",
        )
        .join(norms.hint("shuffle_hash"), "vec_id")
        .select(
            "qid",
            "vec_id",
            rd(F.col("__dxy") / (F.col("__nq") * F.col("__nrm")), 6).alias(
                "__c"
            ),
        )
    )
    wq = Window.partitionBy("qid").orderBy(
        F.col("__c").desc(), F.col("vec_id").asc()
    )
    short = (
        cos.withColumn("__rn", F.row_number().over(wq))
        .filter(F.col("__rn") <= _MMR_SHORT)
        .select("qid", "vec_id", "__c")
    )
    scored = short.join(
        emb.select("vec_id", "embedding").hint("shuffle_hash"), "vec_id"
    )
    return sim.mmr_diversify(
        scored,
        k=_MMR_K,
        lam=_MMR_LAM,
        query_col="qid",
        id_col="vec_id",
        rel_col="__c",
        vec_col="embedding",
    ).select(
        F.col("qid").alias("query_id"),
        "vec_id",
        "mmr_rank",
    )


@register(
    "text_rake_top_keyword",
    f"""
    WITH t0 AS (
      SELECT doc_id,
             list_filter(string_split(trim(regexp_replace(lower(text),
                 '[^a-z0-9]+', ' ', 'g')), ' '), x -> length(x) > 0) AS toks
      FROM documents WHERE text IS NOT NULL
    ),
    pos AS (
      SELECT doc_id, u['i'] AS pos, u['v'] AS w
      FROM (SELECT doc_id,
                   unnest(list_transform(toks, (x, i) -> {{'v': x, 'i': i}})) AS u
            FROM t0)
    ),
    marked AS (
      SELECT doc_id, pos, w,
             sum(CASE WHEN w IN ({_RAKE_STOP_SQL}) THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos) AS isl,
             w IN ({_RAKE_STOP_SQL}) AS stop
      FROM pos
    ),
    ph AS (
      SELECT doc_id, isl,
             string_agg(w, ' ' ORDER BY pos) AS phrase,
             count(*) AS n_words
      FROM marked WHERE NOT stop
      GROUP BY doc_id, isl
      HAVING count(*) <= {tx.RAKE_MAX_PHRASE}
    ),
    wrd AS (
      SELECT doc_id, isl, n_words, unnest(string_split(phrase, ' ')) AS w
      FROM ph
    ),
    st AS (
      SELECT doc_id, w, count(*) AS freq, sum(n_words) AS deg
      FROM wrd GROUP BY doc_id, w
    ),
    sw AS (
      SELECT wr.doc_id, wr.isl,
             {R("CAST(st.deg AS DOUBLE) / st.freq", 6)} AS s
      FROM wrd wr JOIN st ON st.doc_id = wr.doc_id AND st.w = wr.w
    ),
    sc AS (
      SELECT doc_id, isl,
             {R("CAST(sum(CAST(s AS DECIMAL(38,6))) AS DOUBLE)", 6)} AS score
      FROM sw GROUP BY doc_id, isl
    ),
    ranked AS (
      SELECT p.doc_id, p.phrase, CAST(p.n_words AS INTEGER) AS n_words,
             sc.score,
             row_number() OVER (PARTITION BY p.doc_id
                                ORDER BY sc.score DESC, p.phrase ASC) AS rn
      FROM ph p JOIN sc ON sc.doc_id = p.doc_id AND sc.isl = p.isl
    )
    SELECT doc_id, phrase, n_words, score FROM ranked WHERE rn = 1
    """,
)
def _q_text_rake_top_keyword(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (`tx.rake_keywords`, Rose et al. 2010):
    each document's TOP candidate phrase by the degree/frequency score
    — training-free document keywords for index terms, dataset cards,
    and topic labels, computed entirely from the document's own
    collocation structure (no corpus statistics, no model). Candidate
    phrases are maximal non-stopword runs (fixed literal stopword
    list, phrases capped at {tx.RAKE_MAX_PHRASE} words); word score =
    deg/freq favors words living in longer collocations; phrase score
    is the 6-dp decimal sum of its word scores; top-1 per doc breaks
    ties on the phrase text. Everything is per-document bounded —
    segmentation is one keyed gaps-and-islands window, scoring two
    doc-keyed aggregations."""
    docs = _table(spark, sf_dir, "documents")
    cand = tx.rake_keywords(docs)
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("phrase").asc()
    )
    return (
        cand.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("doc_id", "phrase", "n_words", "score")
    )


@register(
    "retrieval_prf_expansion",
    f"""
    WITH toks AS (
      SELECT doc_id, t.token
      FROM documents,
           LATERAL (SELECT unnest(string_split(trim(text), ' ')) AS token) t
      WHERE len(t.token) > 0
    ),
    dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
    stats AS (
      SELECT count(*) AS n_docs,
             CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
      FROM dl
    ),
    tf1 AS (
      SELECT doc_id, token, count(*) AS tf
      FROM toks WHERE token IN ('spark', 'window', 'join')
      GROUP BY doc_id, token
    ),
    dfreq1 AS (SELECT token, count(*) AS doc_freq FROM tf1 GROUP BY token),
    scored1 AS (
      SELECT t.doc_id,
             CAST({sql_rd(
                 "((CAST(s.n_docs AS DOUBLE) - CAST(d.doc_freq AS DOUBLE) + 0.5)"
                 " / (CAST(d.doc_freq AS DOUBLE) + 0.5))"
                 " * (CAST(t.tf AS DOUBLE) * 2.2)"
                 " / (CAST(t.tf AS DOUBLE)"
                 "    + 1.2 * (0.25 + 0.75 * CAST(l.dl AS DOUBLE) / s.avgdl))",
                 9,
             )} AS DECIMAL(38,9)) AS s
      FROM tf1 t
      JOIN dfreq1 d ON d.token = t.token
      JOIN dl l ON l.doc_id = t.doc_id
      CROSS JOIN stats s
    ),
    fb AS (
      SELECT doc_id FROM (
        SELECT doc_id, {R("CAST(sum(s) AS DOUBLE)", 6)} AS score
        FROM scored1 GROUP BY doc_id
        ORDER BY score DESC, doc_id ASC LIMIT 5
      )
    ),
    cand AS (
      SELECT t.token, count(*) AS fbtf
      FROM toks t JOIN fb ON fb.doc_id = t.doc_id
      WHERE len(t.token) >= 3 AND t.token NOT IN ('spark', 'window', 'join')
      GROUP BY t.token
    ),
    cdf AS (
      SELECT token, count(DISTINCT doc_id) AS doc_freq
      FROM toks WHERE token IN (SELECT token FROM cand)
      GROUP BY token
    ),
    exp AS (
      SELECT token, 0.5 AS w FROM (
        SELECT c.token AS token,
               {sql_rd(
                   "CAST(c.fbtf AS DOUBLE)"
                   " * ((CAST(s.n_docs AS DOUBLE) - CAST(cd.doc_freq AS DOUBLE) + 0.5)"
                   " / (CAST(cd.doc_freq AS DOUBLE) + 0.5))",
                   9,
               )} AS escore
        FROM cand c JOIN cdf cd ON cd.token = c.token
        CROSS JOIN stats s
        ORDER BY escore DESC, c.token ASC LIMIT 3
      )
    ),
    qterms AS (
      SELECT token, 1.0 AS w FROM (VALUES ('spark'), ('window'), ('join')) v(token)
      UNION ALL
      SELECT token, w FROM exp
    ),
    tf2 AS (
      SELECT doc_id, token, count(*) AS tf
      FROM toks WHERE token IN (SELECT token FROM qterms)
      GROUP BY doc_id, token
    ),
    dfreq2 AS (SELECT token, count(*) AS doc_freq FROM tf2 GROUP BY token),
    scored2 AS (
      SELECT t.doc_id,
             CAST({sql_rd(
                 "q.w * (((CAST(s.n_docs AS DOUBLE) - CAST(d.doc_freq AS DOUBLE) + 0.5)"
                 " / (CAST(d.doc_freq AS DOUBLE) + 0.5))"
                 " * (CAST(t.tf AS DOUBLE) * 2.2)"
                 " / (CAST(t.tf AS DOUBLE)"
                 "    + 1.2 * (0.25 + 0.75 * CAST(l.dl AS DOUBLE) / s.avgdl)))",
                 9,
             )} AS DECIMAL(38,9)) AS s
      FROM tf2 t
      JOIN dfreq2 d ON d.token = t.token
      JOIN qterms q ON q.token = t.token
      JOIN dl l ON l.doc_id = t.doc_id
      CROSS JOIN stats s
    )
    SELECT doc_id,
           count(*) AS n_terms_matched,
           {R("CAST(sum(s) AS DOUBLE)", 6)} AS score
    FROM scored2 GROUP BY doc_id
    ORDER BY score DESC, doc_id ASC
    LIMIT 20
    """,
)
def _q_retrieval_prf_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSEUDO-RELEVANCE-FEEDBACK retrieval (`tx.bm25_prf_topk`) for
    the query "spark window join": round-1 BM25 top-5 become the
    feedback set, their 3 strongest new terms (feedback tf × the same
    un-logged rarity ratio, len≥3, originals excluded) join the query
    at Rocchio weight β=0.5, and the corpus is rescored — the classic
    recall move for short queries, completing the retrieval family
    (BM25 = lexical, chunk_topk = granular, MMR = diversity, RRF =
    fusion, PRF = expansion). Both retrieval rounds keep BM25's scale
    shape — query-term semi-join ON the token scan, narrow (doc,
    term) shuffles, 1-row stats broadcast, TakeOrdered cuts — and the
    feedback/expansion tables stay in-plan as bounded broadcasts
    (never collected). Weighted per-term scores round to 9 dp and
    accumulate in decimal; every cut orders by rounded score then
    id/token."""
    return tx.bm25_prf_topk(
        _table(spark, sf_dir, "documents"),
        query_terms=_BM25_TERMS,
        k=20, fb_docs=5, fb_terms=3, beta=0.5,
        k1=_BM25_K1, b=_BM25_B,
    )


@register(
    "text_vocab_coverage_by_freq_band",
    f"""
    WITH toks AS (
      SELECT t.token
      FROM documents,
           LATERAL (SELECT unnest(string_split(trim(text), ' ')) AS token) t
      WHERE len(t.token) > 0 AND text IS NOT NULL
    ),
    freq AS (SELECT token, count(*) AS n FROM toks GROUP BY token),
    banded AS (
      SELECT length(bin(n)) - 1 AS band, n FROM freq
    ),
    b AS (
      SELECT band, count(*) AS n_types, CAST(sum(n) AS BIGINT) AS mass
      FROM banded GROUP BY band
    ),
    tot AS (SELECT CAST(sum(mass) AS DOUBLE) AS tm, sum(n_types) AS tv FROM b),
    cum AS (
      SELECT band, n_types, mass,
             sum(mass) OVER (ORDER BY band DESC ROWS UNBOUNDED PRECEDING) AS cmass,
             sum(n_types) OVER (ORDER BY band DESC ROWS UNBOUNDED PRECEDING) AS ctypes
      FROM b
    )
    SELECT CAST(c.band AS INTEGER) AS band,
           CAST(CAST(1 AS BIGINT) << c.band AS BIGINT) AS min_freq,
           CAST(c.n_types AS BIGINT) AS n_types,
           c.mass,
           {R("CAST(c.mass AS DOUBLE) / t.tm", 6)} AS mass_share,
           {R("CAST(c.cmass AS DOUBLE) / t.tm", 6)} AS coverage_from_top,
           CAST(c.ctypes AS BIGINT) AS vocab_from_top
    FROM cum c CROSS JOIN tot t
    """,
)
def _q_text_vocab_coverage_by_freq_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VOCAB COVERAGE curve by frequency band — the tokenizer-design
    readout `text_vocab_growth` (new types per doc) and
    `text_token_percentiles` (lengths) don't give: for each power-of-
    two frequency band, how many token TYPES live there and what
    share of the corpus TOKEN MASS the bands from the top down cover
    — i.e. "a vocab of the N most-frequent types covers X% of
    running text", the Zipf-head table that sizes a vocabulary before
    training (read next to `text_zipf_slope_by_source`, and against
    `feature_hashing_collision_report` when the vocab will be hashed
    instead). The band is floor(log2(n)) computed EXACTLY as
    length(bin(n))−1 — no libm log at a power-of-two boundary can
    disagree between engines. One token scan + one vocab-bounded agg;
    the cumulative walk is over ≤~25 band rows (collect-and-fold).
    ~|bands|-row output at any scale."""
    docs = _table(spark, sf_dir, "documents")
    freq = (
        docs.filter(F.col("text").isNotNull())
        .select(F.explode(F.split(F.trim(F.col("text")), " ")).alias("token"))
        .filter(F.length("token") > 0)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    b = freq.select(
        (F.length(F.expr("bin(__n)")) - 1).alias("band"), F.col("__n")
    ).groupBy("band").agg(
        F.count(F.lit(1)).alias("__types"), F.sum("__n").cast("long").alias("__mass")
    )
    row = b.agg(
        F.reverse(
            F.sort_array(F.collect_list(F.struct("band", "__types", "__mass")))
        ).alias("__arr"),
        F.sum("__mass").cast("double").alias("__tm"),
    )
    arr = F.col("__arr")

    def _suffix(field):
        return F.transform(
            F.sequence(F.lit(1), F.size(arr)),
            lambda i: F.aggregate(
                F.slice(arr, F.lit(1), i),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x[field],
            ),
        )

    z = row.select(
        "__tm",
        F.explode(
            F.arrays_zip(arr, _suffix("__mass").alias("__cm"), _suffix("__types").alias("__ct"))
        ).alias("__z"),
    )
    return z.select(
        F.col("__z.__arr.band").cast("int").alias("band"),
        F.expr("shiftleft(cast(1 as bigint), __z.__arr.band)").alias("min_freq"),
        F.col("__z.__arr.__types").cast("long").alias("n_types"),
        F.col("__z.__arr.__mass").cast("long").alias("mass"),
        rd(F.col("__z.__arr.__mass").cast("double") / F.col("__tm"), 6).alias(
            "mass_share"
        ),
        rd(F.col("__z.__cm").cast("double") / F.col("__tm"), 6).alias(
            "coverage_from_top"
        ),
        F.col("__z.__ct").cast("long").alias("vocab_from_top"),
    )


# ---------------------------------------------------------------------------
# r11 wave 2: interpolated Kneser-Ney bigram perplexity per source —
# the CCNet/KenLM-style LM-quality statistic, upgrading the add-one
# bigram scorer with the smoothing production pipelines actually use.
# ---------------------------------------------------------------------------

_KN_D = 0.75  # absolute discount; 3/4 is exact in binary, engine-safe


@register(
    "text_kn_bigram_ppl",
    f"""
    WITH tk AS (
      SELECT doc_id, source,
             list_filter(string_split(trim(regexp_replace(lower(text),
                 '[^a-z0-9]+', ' ', 'g')), ' '), x -> length(x) > 0) AS toks
      FROM documents WHERE text IS NOT NULL
    ),
    bg AS (
      SELECT source, md5(u['a']) AS vd, md5(u['b']) AS wd
      FROM (SELECT source,
                   unnest(list_transform(range(1, len(toks)),
                          i -> {{'a': toks[i], 'b': toks[i + 1]}})) AS u
            FROM tk)
    ),
    cbg AS (SELECT vd, wd, count(*) AS cvw FROM bg GROUP BY 1, 2),
    cv AS (SELECT vd, sum(cvw) AS cvtot, count(*) AS n1pv FROM cbg GROUP BY 1),
    nw AS (SELECT wd, count(*) AS n1pw FROM cbg GROUP BY 1),
    tt AS (SELECT count(*) AS t FROM cbg),
    pt AS (
      SELECT c.vd, c.wd,
             {sql_rd(f"log2((CAST(c.cvw AS DOUBLE) - {_KN_D}) / v.cvtot"
                     f" + {_KN_D} * CAST(v.n1pv AS DOUBLE) / v.cvtot"
                     " * (CAST(n.n1pw AS DOUBLE) / tt.t))", 6)} AS term
      FROM cbg c
      JOIN cv v ON v.vd = c.vd
      JOIN nw n ON n.wd = c.wd
      CROSS JOIN tt
    ),
    sc AS (SELECT source, vd, wd, count(*) AS cnt FROM bg GROUP BY 1, 2, 3),
    agg AS (
      SELECT sc.source,
             CAST(sum(sc.cnt) AS BIGINT) AS n_bigrams,
             {R(f"-CAST(sum(CAST({sql_rd('sc.cnt * pt.term', 6)}"
                " AS DECIMAL(38,6))) AS DOUBLE) / sum(sc.cnt)", 6)}
               AS cross_entropy_bits
      FROM sc JOIN pt ON pt.vd = sc.vd AND pt.wd = sc.wd
      GROUP BY sc.source
    )
    SELECT source, n_bigrams, cross_entropy_bits,
           {R("power(2.0, cross_entropy_bits)", 4)} AS ppl
    FROM agg
    """,
)
def _q_text_kn_bigram_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated KNESER-NEY bigram perplexity per source — the
    LM-quality statistic production corpus pipelines actually
    threshold on (CCNet scores against a KenLM model, which is
    modified KN; the repo's `text_bigram_lm_score` is the add-one
    baseline). Trained on the whole corpus in the same job:

        P(w|v) = (c(vw) − d)/c(v·) + d·N1+(v·)/c(v·) · N1+(·w)/T

    with d = {_KN_D} (exact in binary), N1+ the continuation/prefix
    TYPE counts and T the bigram type count — the KN insight that a
    word's continuation probability should count how many contexts it
    follows, not how often ("san francisco" makes "francisco"
    frequent but not free-standing). Per source: cross-entropy in
    bits over its bigram occurrences and ppl = 2^H.

    Scale plan (the `bigram_lm_score` discipline): bigrams collapse
    to md5 digests scan-side so every join/agg shuffles 32-hex keys,
    never text; counts are map-side partial, vocab²-bounded; T is a
    1-row broadcast. Every probability input is an exact integer,
    the P expression is a fixed IEEE op sequence replicated verbatim
    in the oracle, log2 terms round on the 6-dp grid before decimal
    accumulation (entropy-family convention), ppl on the 4-dp grid."""
    docs = _table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    norm = F.trim(
        F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " ")
    )
    toks = F.filter(F.split(norm, " "), lambda t: F.length(t) > 0)
    n = F.size(toks)
    pairs = F.zip_with(
        F.slice(toks, 1, n - 1),
        F.slice(toks, 2, n - 1),
        lambda a, b: F.struct(F.md5(a).alias("vd"), F.md5(b).alias("wd")),
    )
    # spread BEFORE the md5-heavy explode (the bigram_lm_score lesson):
    # a small corpus scans as one partition and the hash work would
    # single-thread.
    bg = (
        spread(docs.filter(n >= 2).select("doc_id", "source", "text"), "doc_id")
        .select("source", F.explode(pairs).alias("b"))
        .select(
            "source", F.col("b.vd").alias("vd"), F.col("b.wd").alias("wd")
        )
    )
    # r13 (guide §2.4): bg (the regex-normalize + md5 + explode frame,
    # one row per bigram OCCURRENCE) used to feed two independent
    # aggregations — the global (vd, wd) counts and the per-source
    # counts — so the string-heavy subtree executed twice. Aggregate
    # per-source FIRST (sc, bounded by source × bigram TYPES, never
    # occurrences), checkpoint it, and derive the global counts as the
    # exact integer roll-up Σ_source cnt: one pass over the occurrence
    # frame, and cv/nw/tt/pt re-aggregate the materialized type table
    # instead of re-running the scan per consumer.
    sc = (
        bg.groupBy("source", "vd", "wd")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=False)
    )
    cbg = (
        sc.groupBy("vd", "wd")
        .agg(F.sum("cnt").alias("cvw"))
        .localCheckpoint(eager=False)
    )
    cv = cbg.groupBy("vd").agg(
        F.sum("cvw").alias("cvtot"), F.count(F.lit(1)).alias("n1pv")
    )
    nw = cbg.groupBy("wd").agg(F.count(F.lit(1)).alias("n1pw"))
    tt = cbg.agg(F.count(F.lit(1)).alias("t"))
    p = (
        F.col("cvw").cast("double") - F.lit(_KN_D)
    ) / F.col("cvtot") + F.lit(_KN_D) * F.col("n1pv").cast("double") / F.col(
        "cvtot"
    ) * (F.col("n1pw").cast("double") / F.col("t"))
    pt = (
        cbg.join(cv.hint("shuffle_hash"), "vd")
        .join(nw.hint("shuffle_hash"), "wd")
        .crossJoin(F.broadcast(tt))
        .select("vd", "wd", rd(F.log2(p), 6).alias("term"))
    )
    agg = (
        sc.join(pt.hint("shuffle_hash"), ["vd", "wd"])
        .groupBy("source")
        .agg(
            F.sum("cnt").cast("long").alias("n_bigrams"),
            rd(
                -F.sum(
                    rd(F.col("cnt") * F.col("term"), 6).cast("decimal(38,6)")
                ).cast("double")
                / F.sum("cnt"),
                6,
            ).alias("cross_entropy_bits"),
        )
    )
    return agg.select(
        "source",
        "n_bigrams",
        "cross_entropy_bits",
        rd(F.pow(F.lit(2.0), F.col("cross_entropy_bits")), 4).alias("ppl"),
    )


# ---------------------------------------------------------------------------
# r11 wave 7: language-mixing entropy — the code-switching signal the
# single-label language-ID family can't express.
# ---------------------------------------------------------------------------


@register(
    "text_lang_mixing_entropy",
    f"""
    WITH scored AS (
      SELECT doc_id, source,
             {", ".join(f"CAST({_lang_score_sql(lang)} AS BIGINT) AS s_{lang}" for lang in sorted(tx.LANG_MARKERS))}
      FROM documents WHERE text IS NOT NULL
    ),
    tot AS (
      SELECT doc_id, source,
             ({" + ".join(f"s_{lang}" for lang in sorted(tx.LANG_MARKERS))}) AS th,
             {", ".join(f"s_{lang}" for lang in sorted(tx.LANG_MARKERS))}
      FROM scored
    ),
    ent AS (
      SELECT doc_id, source,
             CAST(({" + ".join(
               f"CASE WHEN s_{lang} > 0 THEN CAST({sql_rd(f'-(CAST(s_{lang} AS DOUBLE) / th) * log2(CAST(s_{lang} AS DOUBLE) / th)', 6)} AS DECIMAL(18,6)) ELSE CAST(0 AS DECIMAL(18,6)) END"
               for lang in sorted(tx.LANG_MARKERS))}) AS DOUBLE) AS h
      FROM tot WHERE th > 0
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs_scored,
           {R("CAST(sum(CAST(" + sql_rd("h", 6) + " AS DECIMAL(18,6))) AS DOUBLE)"
              " / count(*)", 6)} AS mean_mixing_entropy,
           CAST(sum(CASE WHEN h > 1.0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_mixed_docs,
           {R("CAST(sum(CASE WHEN h > 1.0 THEN 1 ELSE 0 END) AS DOUBLE)"
              " / count(*)", 6)} AS mixed_share
    FROM ent GROUP BY source
    """,
)
def _q_text_lang_mixing_entropy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LANGUAGE-MIXING entropy per source — the code-switching signal
    the argmax language-ID family throws away: per document, Shannon
    entropy (bits) over the language-marker hit distribution (a
    clean monolingual doc concentrates its hits → H≈0; boilerplate
    soup and code-switched text spread them → H→log2|langs|), rolled
    up per source as the mean and the share of docs past 1 bit. This
    is the corpus-mix QA companion to `eval_cohens_kappa_langid`
    (how OFTEN the heuristic is right) and `text_lang_confusion`
    (WHERE it's wrong): high mixing entropy marks the slice where a
    single label is the wrong model. Marker hits are exact integers
    (the shared `_lang_score_sql` scan), each entropy term rounds on
    the 6-dp grid before a DECIMAL(18,6) sum (invariant 22 headroom:
    ≤5 terms), one division per output. One scan, |sources| rows."""
    docs = _table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    scores = tx.lang_scores(F.col("text"))
    langs = sorted(tx.LANG_MARKERS)
    scored = docs.select(
        "doc_id",
        "source",
        *[scores[lang].cast("long").alias(f"s_{lang}") for lang in langs],
    )
    th = None
    for lang in langs:
        th = F.col(f"s_{lang}") if th is None else th + F.col(f"s_{lang}")
    tot = scored.withColumn("th", th).filter(F.col("th") > 0)
    hsum = None
    for lang in langs:
        p = F.col(f"s_{lang}").cast("double") / F.col("th")
        term = F.when(
            F.col(f"s_{lang}") > 0,
            rd(-p * F.log2(p), 6).cast("decimal(18,6)"),
        ).otherwise(F.lit(0).cast("decimal(18,6)"))
        hsum = term if hsum is None else hsum + term
    ent = tot.select("source", hsum.cast("double").alias("h"))
    return ent.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs_scored"),
        rd(
            F.sum(rd(F.col("h"), 6).cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_mixing_entropy"),
        F.sum((F.col("h") > 1.0).cast("int"))
        .cast("long")
        .alias("n_mixed_docs"),
        rd(
            F.sum((F.col("h") > 1.0).cast("int")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mixed_share"),
    )


@register(
    "text_self_bleu_proxy",
    f"""
    WITH d AS (
      SELECT doc_id, coalesce(CAST(source AS VARCHAR), '<NULL>') AS src,
             string_split(trim(text), ' ') AS w
      FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
    ),
    uni AS (
      SELECT doc_id, src, 1 AS n, unnest(w) AS g FROM d
    ),
    bi AS (
      SELECT doc_id, src, 2 AS n, w[i.i] || ' ' || w[i.i + 1] AS g
      FROM d, LATERAL (SELECT unnest(generate_series(1, len(w) - 1)) AS i) i
      WHERE len(w) >= 2
    ),
    cnt AS (
      SELECT src, n, g, doc_id, count(*) AS c
      FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
      GROUP BY src, n, g, doc_id
    ),
    g1 AS (
      SELECT src, n, g, max(c) AS m1 FROM cnt GROUP BY src, n, g
    ),
    g2 AS (
      SELECT cnt.src, cnt.n, cnt.g, g1.m1,
             sum(CASE WHEN cnt.c = g1.m1 THEN 1 ELSE 0 END) AS n1,
             coalesce(max(CASE WHEN cnt.c < g1.m1 THEN cnt.c END), 0) AS m2
      FROM cnt JOIN g1 ON g1.src = cnt.src AND g1.n = cnt.n AND g1.g = cnt.g
      GROUP BY cnt.src, cnt.n, cnt.g, g1.m1
    ),
    clip AS (
      SELECT cnt.src, cnt.n,
             least(cnt.c,
                   CASE WHEN cnt.c = g2.m1 AND g2.n1 = 1
                        THEN g2.m2 ELSE g2.m1 END) AS cl,
             cnt.c
      FROM cnt JOIN g2 ON g2.src = cnt.src AND g2.n = cnt.n AND g2.g = cnt.g
    ),
    pn AS (
      SELECT src, n,
             {R("CAST(sum(cl) AS DOUBLE) / sum(c)", 9)} AS p
      FROM clip GROUP BY src, n
    ),
    nd AS (SELECT src, count(*) AS n_docs FROM d GROUP BY src)
    SELECT nd.src AS source,
           CAST(nd.n_docs AS BIGINT) AS n_docs,
           {R("max(CASE WHEN pn.n = 1 THEN pn.p END)", 6)} AS p1_clipped,
           {R("max(CASE WHEN pn.n = 2 THEN pn.p END)", 6)} AS p2_clipped,
           {R("sqrt(max(CASE WHEN pn.n = 1 THEN pn.p END)"
              " * max(CASE WHEN pn.n = 2 THEN pn.p END))", 6)}
             AS self_bleu2
    FROM nd JOIN pn ON pn.src = nd.src
    GROUP BY nd.src, nd.n_docs
    """,
)
def _q_text_self_bleu_proxy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELF-BLEU diversity audit per source (Zhu et al.'s generation-
    diversity metric applied to corpus curation): each document's
    clipped 1-/2-gram precision against the POOL of the other
    documents in its source, aggregated corpus-level — high self-BLEU
    = the source is internally repetitive (template spam, mirror
    scrape), low = diverse. The standard formulation scores each doc
    against the others as references; the distributed reformulation
    avoids any doc×doc pair space: clipping each doc's gram count at
    max_{{d'≠d}} count_{{d'}}(g) needs only the TOP-2 per-gram counts
    (if the doc is the unique argmax its clip is the runner-up, else
    the max) — one gram-keyed aggregate + one join back, all integer
    counts, linear in corpus grams at any scale. self_bleu2 =
    geometric mean of the two clipped precisions (integer-ratio
    doubles; sqrt is IEEE-correctly-rounded — no cross-engine risk)."""
    docs = (
        _table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .filter(F.trim(F.col("text")) != "")
        .select(
            "doc_id",
            F.coalesce(
                F.col("source").cast("string"), F.lit("<NULL>")
            ).alias("src"),
            F.split(F.trim(F.col("text")), " ").alias("__w"),
        )
    )
    uni = docs.select(
        "doc_id", "src", F.lit(1).alias("n"), F.explode("__w").alias("g")
    )
    bi = docs.filter(F.size("__w") >= 2).select(
        "doc_id",
        "src",
        F.lit(2).alias("n"),
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("__w") - 1),
                lambda i: F.concat_ws(" ", F.slice(F.col("__w"), i, 2)),
            )
        ).alias("g"),
    )
    cnt = (
        uni.unionByName(bi)
        .groupBy("src", "n", "g", "doc_id")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    g1 = cnt.groupBy("src", "n", "g").agg(F.max("c").alias("__m1"))
    g2 = (
        cnt.join(g1.hint("shuffle_hash"), ["src", "n", "g"])
        .groupBy("src", "n", "g", "__m1")
        .agg(
            F.sum(
                F.when(F.col("c") == F.col("__m1"), 1).otherwise(0)
            ).alias("__n1"),
            F.coalesce(
                F.max(F.when(F.col("c") < F.col("__m1"), F.col("c"))),
                F.lit(0),
            ).alias("__m2"),
        )
    )
    clip = cnt.join(g2.hint("shuffle_hash"), ["src", "n", "g"]).select(
        "src",
        "n",
        "c",
        F.least(
            F.col("c"),
            F.when(
                (F.col("c") == F.col("__m1")) & (F.col("__n1") == 1),
                F.col("__m2"),
            ).otherwise(F.col("__m1")),
        ).alias("__cl"),
    )
    pn = clip.groupBy("src", "n").agg(
        rd(
            F.sum("__cl").cast("double") / F.sum("c").cast("double"), 9
        ).alias("p")
    )
    nd = docs.groupBy("src").agg(F.count(F.lit(1)).alias("n_docs"))
    p1 = F.max(F.when(F.col("n") == 1, F.col("p")))
    p2 = F.max(F.when(F.col("n") == 2, F.col("p")))
    return (
        nd.join(pn.hint("shuffle_hash"), "src")
        .groupBy("src", "n_docs")
        .agg(
            rd(p1, 6).alias("p1_clipped"),
            rd(p2, 6).alias("p2_clipped"),
            rd(F.sqrt(p1 * p2), 6).alias("self_bleu2"),
        )
        .select(
            F.col("src").alias("source"),
            F.col("n_docs").cast("long").alias("n_docs"),
            "p1_clipped",
            "p2_clipped",
            "self_bleu2",
        )
    )


_CODE_KEYWORDS = (
    "def |class |return |import |function |var |const |#include|"
    "public |private |SELECT |INSERT "
)


@register(
    "text_code_like_score",
    f"""
    WITH d AS (
      SELECT doc_id,
             coalesce(CAST(source AS VARCHAR), '<NULL>') AS src,
             text,
             length(text) AS chars
      FROM documents WHERE text IS NOT NULL AND length(text) > 0
    ),
    feats AS (
      SELECT doc_id, src, chars,
             length(text)
               - length(regexp_replace(text, '[;{{}}()=<>\\[\\]]', '', 'g'))
               AS sym,
             len(regexp_extract_all(text, '({_CODE_KEYWORDS.rstrip()})'))
               AS kw
      FROM d
    ),
    scored AS (
      SELECT src, chars, sym, kw,
             CASE WHEN sym * 20 >= chars AND kw >= 1 THEN 1
                  WHEN sym * 10 >= chars THEN 1
                  ELSE 0 END AS is_code_like
      FROM feats
    )
    SELECT src AS source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(is_code_like) AS BIGINT) AS n_code_like,
           {R("CAST(sum(is_code_like) AS DOUBLE) / count(*)", 6)}
             AS code_like_frac,
           {R("CAST(sum(sym) AS DOUBLE) / sum(chars)", 6)}
             AS symbol_char_ratio,
           CAST(sum(kw) AS BIGINT) AS keyword_hits
    FROM scored GROUP BY src
    """,
)
def _q_text_code_like_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CODE-vs-PROSE detection heuristic per source — the curation
    axis language-ID misses entirely (code is 'en' to an n-gram
    marker but needs its own mixing budget, tokenizer treatment, and
    dedup policy): per doc, the code-symbol character ratio
    (;{{}}()=<>[] density) and a programming-keyword hit count drive
    an integer decision rule (symbol-dense + any keyword, or very
    symbol-dense alone); the report is per-source code-like fraction
    plus the raw feature mass so thresholds are re-derivable. All
    features are exact integer counts from scan-side regex codegen
    (count-by-replace for the symbol class, extract_all for
    keywords); the only doubles are the two reported ratios (rd-6).
    One scan + one source-keyed aggregate at any scale."""
    docs = (
        _table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .filter(F.length("text") > 0)
    )
    sym = F.length("text") - F.length(
        F.regexp_replace(F.col("text"), r"[;{}()=<>\[\]]", "")
    )
    kw = F.size(
        F.expr(f"regexp_extract_all(text, '({_CODE_KEYWORDS.rstrip()})')")
    )
    feats = docs.select(
        F.coalesce(F.col("source").cast("string"), F.lit("<NULL>")).alias(
            "src"
        ),
        F.length("text").alias("__chars"),
        sym.alias("__sym"),
        kw.alias("__kw"),
    )
    scored = feats.withColumn(
        "__code",
        F.when(
            (F.col("__sym") * 20 >= F.col("__chars"))
            & (F.col("__kw") >= 1),
            1,
        )
        .when(F.col("__sym") * 10 >= F.col("__chars"), 1)
        .otherwise(0),
    )
    n = F.count(F.lit(1))
    return scored.groupBy("src").agg(
        n.cast("long").alias("n_docs"),
        F.sum("__code").cast("long").alias("n_code_like"),
        rd(F.sum("__code").cast("double") / n, 6).alias("code_like_frac"),
        rd(
            F.sum("__sym").cast("double")
            / F.sum("__chars").cast("double"),
            6,
        ).alias("symbol_char_ratio"),
        F.sum("__kw").cast("long").alias("keyword_hits"),
    ).select(
        F.col("src").alias("source"),
        "n_docs",
        "n_code_like",
        "code_like_frac",
        "symbol_char_ratio",
        "keyword_hits",
    )
