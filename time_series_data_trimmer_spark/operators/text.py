"""Text analysis operators for corpus pipelines: language ID, quality
scoring, token counting, document fingerprinting.

Everything is pure Column expressions over deterministic string/integer
math (substring counts, exact ratios of integers, md5 digests), so each
operator is oracle-checkable across engines and runs entirely inside
whole-stage codegen — no UDFs in any hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from time_series_data_trimmer_spark.functions.rounding import rd
from time_series_data_trimmer_spark.functions.spread import spread

#: tiny per-language stopword marker sets for the n-gram heuristic.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is", "in", "that", "it"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "dans"),
    "es": ("el", "la", "los", "y", "es", "un", "una", "que"),
}


def _occurrences(text: Column, word: str) -> Column:
    """Count whole-word occurrences of ``word`` in ``text``.

    SEMANTICS (and the oracle SQL): padded substring arithmetic —
    ``(len(padded) - len(replace(padded, ' w '))) / len(' w ')`` with
    non-overlapping matches; identical integer math in any engine.
    IMPLEMENTATION: ``regexp_count`` of the literal-escaped needle —
    the same non-overlapping count without materializing a replaced
    copy of the string per marker (the replace form allocates 2
    strings per marker per row; with ~32 markers inlined into
    collapsed filter+project plans that tripled the c4-filter scan
    time at sf0.1)."""
    import re as _re

    padded = F.concat(F.lit(" "), text, F.lit(" "))
    return F.regexp_count(padded, F.lit(_re.escape(f" {word} "))).cast("double")


def lang_scores(text: Column) -> dict[str, Column]:
    """Marker-hit count per language over the lowercased text."""
    low = F.lower(text)
    scores: dict[str, Column] = {}
    for lang, words in LANG_MARKERS.items():
        s = F.lit(0.0)
        for w in words:
            s = s + _occurrences(low, w)
        scores[lang] = s
    return scores


def language_id(df: DataFrame, text_col: str = "text", out_col: str = "lang_pred") -> DataFrame:
    """Predict the language as the marker set with the most hits
    (ties → lexicographically first language code, deterministic);
    no hits at all → 'und' (undetermined)."""
    scores = lang_scores(F.col(text_col))
    best_score = F.greatest(*scores.values())
    pred = F.lit("und")
    for lang in sorted(LANG_MARKERS, reverse=True):
        pred = F.when(scores[lang] == best_score, F.lit(lang)).otherwise(pred)
    pred = F.when(best_score <= 0, F.lit("und")).otherwise(pred)
    return df.withColumn(out_col, pred)


def token_count(text: Column) -> Column:
    """Whitespace token count (size of the split array, empty-safe)."""
    trimmed = F.trim(text)
    return F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.size(F.split(trimmed, " "))
    )


def bpe_ish_token_estimate(text: Column) -> Column:
    """Sub-word token estimate without a tokenizer model: byte length
    scaled by the empirical ~4 chars/token BPE ratio, floored, at least
    the whitespace word count. Deterministic integer math."""
    words = token_count(text)
    return F.greatest(F.floor(F.length(text) / F.lit(4)).cast("long"), words.cast("long"))


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality features (exact integer ratios):

    * n_chars, n_tokens, mean_token_len
    * punct_ratio — fraction of .,;:!? characters
    * stopword_ratio — English-marker hits per token
    * digit_ratio — 0-9 characters per char
    """
    t = F.col(text_col)
    low = F.lower(t)
    n_chars = F.length(t)
    n_tokens = token_count(t)
    # one class-regex pass per counter instead of a replace() per
    # character (6 + 10 string materializations per row): same integer
    # counts, ~3x cheaper scan when plans inline these expressions.
    punct = (n_chars - F.length(F.regexp_replace(t, "[.,;:!?]", ""))).cast("long")
    digits = (n_chars - F.length(F.regexp_replace(t, "[0-9]", ""))).cast("long")
    stop_hits = F.lit(0.0)
    for w in LANG_MARKERS["en"]:
        stop_hits = stop_hits + _occurrences(low, w)
    nz = F.when(n_chars == 0, F.lit(1)).otherwise(n_chars).cast("double")
    nt = F.when(n_tokens == 0, F.lit(1)).otherwise(n_tokens).cast("double")
    return df.select(
        *df.columns,
        n_chars.alias("q_n_chars"),
        n_tokens.cast("long").alias("q_n_tokens"),
        ((n_chars - (n_tokens - 1)).cast("double") / nt).alias("q_mean_token_len"),
        (punct.cast("double") / nz).alias("q_punct_ratio"),
        (digits.cast("double") / nz).alias("q_digit_ratio"),
        (stop_hits / nt).alias("q_stopword_ratio"),
    )


def quality_score(df: DataFrame, text_col: str = "text", out_col: str = "quality") -> DataFrame:
    """Scalar quality score in [0, 1]: length band + stopword presence −
    punctuation/digit noise. A deterministic combination of the exact
    feature ratios (weights are engineering choices, not learned)."""
    feats = quality_features(df, text_col)
    length_ok = F.when(
        (F.col("q_n_chars") >= 100) & (F.col("q_n_chars") <= 20000), F.lit(0.4)
    ).otherwise(F.lit(0.0))
    stop_ok = F.least(F.col("q_stopword_ratio") * F.lit(2.0), F.lit(0.4))
    noise = F.least(
        (F.col("q_punct_ratio") + F.col("q_digit_ratio")) * F.lit(1.0), F.lit(0.2)
    )
    return feats.withColumn(out_col, length_ok + stop_ok + (F.lit(0.2) - noise))


def fingerprint(df: DataFrame, text_col: str = "text", out_col: str = "fingerprint") -> DataFrame:
    """Normalized-content fingerprint: md5 of the lowercased text with
    runs of non-alphanumerics collapsed to single spaces — a stable
    64-hex content address robust to whitespace/punctuation drift."""
    normalized = F.trim(
        F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]+", " ")
    )
    return df.withColumn(out_col, F.md5(normalized))


def rolling_hash_fingerprint(
    df: DataFrame, text_col: str = "text", window: int = 16, out_col: str = "winnow_fp"
) -> DataFrame:
    """Winnowing-style fingerprint: min md5 over sliding character
    ``window``-grams of the normalized text — robust to partial edits
    (two documents sharing long runs share the min with high
    probability). Pure higher-order-function expressions."""
    normalized = F.trim(F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]+", " "))
    n = F.length(normalized)
    k = n - F.lit(window - 1)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(k, F.lit(1))),
        lambda i: F.md5(F.substring(normalized, i, window)),
    )
    return df.withColumn(out_col, F.array_min(grams))


#: redaction patterns (portable across Java regex and RE2): emails,
#: URLs, and long digit runs (phone/account numbers). Order matters —
#: URLs before digit runs so ports/paths redact as part of the URL.
REDACT_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"https?://[^\s]+", "<URL>"),
    (r"\+?[0-9][0-9 ().+-]{6,}[0-9]", "<NUM>"),
)


def redact(text: Column) -> Column:
    """PII-ish scrubbing for training corpora: replace emails, URLs and
    long digit runs with typed placeholder tokens. Plain
    ``regexp_replace`` chain — whole-stage codegen, and the patterns
    avoid constructs where Java regex and RE2 dialects diverge
    (no backrefs, no lookaround), so the op is oracle-checkable."""
    out = text
    for pat, repl in REDACT_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def redact_documents(df: DataFrame, text_col: str = "text", out_col: str = "text_redacted") -> DataFrame:
    return df.withColumn(out_col, redact(F.col(text_col)))


def token_percentiles(
    df: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
    percentiles: tuple[float, ...] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Exact interpolated token-count percentiles per group — the
    corpus length-distribution stat every data pipeline dashboards.

    Spark's `percentile` (exact: sort, pos = (n-1)·p, linear
    interpolation) — never `approx_percentile`, which is
    sketch-dependent and engine-specific. DuckDB's `quantile_cont`
    computes the identical definition, so the op is oracle-checkable.
    At 100 TB scale the exact form costs a per-group sort of ints;
    switch to approx_percentile only when cross-engine equality stops
    mattering.
    """
    nt = token_count(F.col(text_col)).cast("double")
    aggs = [
        F.expr(f"percentile(__nt, {p!r})").alias(f"p{int(p * 100)}")
        for p in percentiles
    ]
    return (
        df.select(F.col(group_col), nt.alias("__nt"))
        .groupBy(group_col)
        .agg(F.count(F.lit(1)).alias("n_docs"), *aggs)
    )


def dup_rate_by_source(
    df: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-source duplication dashboard: docs, distinct contents
    (md5 — digests aggregate, text bytes never shuffle), and the exact
    duplicate fraction."""
    return (
        df.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct(F.md5(F.col(text_col))).alias("n_distinct"),
        )
        .withColumn(
            "dup_rate",
            (F.col("n_docs") - F.col("n_distinct")).cast("double")
            / F.col("n_docs").cast("double"),
        )
    )


def inverted_index(
    df: DataFrame,
    top_k: int = 100,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Inverted-index build (token → posting list) for the ``top_k``
    highest-document-frequency tokens — the corpus-search / stopword-
    discovery primitive.

    Per token: document frequency, total occurrences, and the posting
    list as a sorted comma-joined id string (strings are engine-portable
    where array columns are not — the oracle compares them exactly).

    Plan: explode(split) → one map-side-combined aggregation keyed on
    the token (only (token, id) pairs shuffle, never text bytes), then
    TakeOrdered for the top-k — no global sort. Posting lists are
    bounded by top_k·N at the driver only via the caller's collect;
    at 100 TB you'd write the full index partitioned by token prefix
    instead of taking top-k (same plan minus the limit).
    """
    toks = df.select(
        F.col(id_col), F.explode(F.split(F.trim(F.col(text_col)), " ")).alias("token")
    ).filter(F.length("token") > 0)
    agg = toks.groupBy("token").agg(
        F.countDistinct(F.col(id_col)).alias("doc_freq"),
        F.count(F.lit(1)).alias("total_occurrences"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_set(F.col(id_col))),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("postings"),
    )
    return agg.orderBy(
        F.col("doc_freq").desc(), F.col("token").asc()
    ).limit(int(top_k))


#: ordered C4/Gopher-style filter rules over the `quality_features` +
#: `language_id` frame. Order matters: the funnel reports CUMULATIVE
#: survivors after each rule, the way published pipeline papers report
#: attrition. Thresholds are engineering choices, not learned.
C4_RULES: list[tuple[str, "callable"]] = [
    ("nonnull_text", lambda: F.col("text").isNotNull()),
    ("min_tokens", lambda: F.col("q_n_tokens") >= 10),
    ("max_tokens", lambda: F.col("q_n_tokens") <= 20000),
    (
        "mean_token_len",
        lambda: (F.col("q_mean_token_len") >= 2.0) & (F.col("q_mean_token_len") <= 12.0),
    ),
    ("digit_ratio", lambda: F.col("q_digit_ratio") <= 0.15),
    ("punct_ratio", lambda: F.col("q_punct_ratio") <= 0.15),
    ("stopword_ratio", lambda: F.col("q_stopword_ratio") >= 0.01),
    ("lang_en", lambda: F.col("lang_pred") == "en"),
]


def _c4_features(df: DataFrame, text_col: str) -> DataFrame:
    # ~48 string passes (marker occurrences + noise counts) per doc: a
    # CPU-bound stage that a small local corpus would run in its ONE
    # scan partition. Round-robin spread is safe — every rule is
    # row-local (the minhash CPU-spread precedent).
    return language_id(quality_features(spread(df), text_col), text_col)


def _c4_flag_frame(df: DataFrame, text_col: str = "text") -> DataFrame:
    feats = _c4_features(df, text_col)
    cum = None
    for i, (_, rule) in enumerate(C4_RULES):
        cond = rule()
        cum = cond if cum is None else (cum & cond)
        feats = feats.withColumn(f"__pass_{i}", F.when(cum, 1).otherwise(0))
    return feats


def _c4_cond() -> Column:
    """The ONE-conjunction C4 gate over the feature/language columns."""
    cond = None
    for _, rule in C4_RULES:
        c = rule()
        cond = c if cond is None else (cond & c)
    return cond


def c4_filter_survivors(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Documents surviving ALL `C4_RULES` — the rule-based cleaning
    pass every web-corpus pipeline runs before dedup (C4 / Gopher
    lineage). Pure scan-side codegen: features, language scores, and
    every rule evaluate in one WholeStageCodegen span; no shuffle, no
    UDF, nothing collected. The filter is ONE conjunction (not the
    funnel's per-stage flag columns, whose inlined feature expressions
    multiply the string passes)."""
    feats = _c4_features(df, text_col)
    return feats.filter(_c4_cond()).select(id_col, "lang_pred", "q_n_tokens")


def c4_label_frame(
    df: DataFrame,
    cols: tuple[str, ...],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(cols…, __pass) over EXACTLY ``df``'s rows in ONE scan — the
    fused form of ``docs.select(cols).join(c4_filter_survivors(docs),
    id_col, "left")`` + coalesce-to-0 (r14, guide §2.3/§2.4): the old
    shape scanned the corpus twice (payload columns + the ~48-string-
    pass gate) and re-attached the label through a doc_id shuffle
    join; here the gate conjunction labels each row in the same
    projection that carries the payload columns, so the label costs
    zero extra passes and zero exchanges. ``__pass`` is 1 iff the doc
    survives every C4 rule (NULL-condition rows — e.g. NULL text —
    label 0, exactly the left-join + coalesce semantics)."""
    feats = _c4_features(df, text_col)
    return feats.select(
        *cols,
        F.when(_c4_cond(), F.lit(1)).otherwise(F.lit(0)).alias("__pass"),
    )


def hls_vs_c4_frame(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id_col, n_tokens, logit, __pass) in ONE corpus scan — the fused
    form of ``hashed_linear_score(df).join(c4_filter_survivors(df),
    id_col, "left")`` that the whole eval_* scorer-vs-gate family sits
    on (r14, guide §2.3/§2.4). The old shape paid TWO full text passes
    (the md5-per-token scorer fold and the ~48-string-pass C4 gate ran
    as separate scans) plus a doc_id-keyed shuffle join to re-attach a
    1-bit label; both expression sets are row-local, so one projection
    computes them side by side — no second scan, no join, no exchange
    before the consumer's own aggregation. Row set = exactly
    ``hashed_linear_score``'s (text non-NULL, ≥1 token); ``__pass`` is
    1 iff the doc survives every C4 rule (a survivor always has ≥10
    tokens, so no survivor is dropped by the row filter — the fused
    label equals the left-join label row for row). ``logit`` is the
    same decimal fold over the same token array: bit-identical."""
    from time_series_data_trimmer_spark.functions.rounding import rd

    feats = _c4_features(df, text_col)
    ws = F.filter(
        F.split(F.trim(F.col(text_col)), " "), lambda x: F.length(x) > 0
    )
    base = (
        feats.filter(F.col(text_col).isNotNull())
        .withColumn("__ws", ws)
        .filter(F.size("__ws") > 0)
    )
    seed = "tsdt|hls"

    def w(tok):
        u = F.conv(
            F.substring(F.md5(F.concat(F.lit(seed + "|"), tok)), 1, 8), 16, 10
        ).cast("long")
        return rd(u.cast("double") / F.lit(4294967296.0) - F.lit(0.5), 6)

    total = F.aggregate(
        F.col("__ws"),
        F.lit(0).cast("decimal(20,6)"),
        lambda acc, t: (acc + w(t).cast("decimal(20,6)")).cast("decimal(20,6)"),
    )
    return base.select(
        F.col(id_col),
        F.size("__ws").cast("int").alias("n_tokens"),
        rd(total.cast("double") / F.size("__ws"), 6).alias("logit"),
        F.when(_c4_cond(), F.lit(1)).otherwise(F.lit(0)).alias("__pass"),
    )


def c4_filter_funnel(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-rule CUMULATIVE attrition of `C4_RULES`: one row per stage
    (stage, rule, n_pass = docs passing rules 0..stage). The
    corpus-health report that decides threshold tuning before a
    full-filter rewrite. One scan, conditional sums into a single
    aggregate row, exploded to stage rows driver-free — the explode is
    over a constant-size literal array."""
    flags = _c4_flag_frame(df, text_col)
    agg = flags.agg(
        F.count(F.lit(1)).alias("n_in"),
        *[F.sum(f"__pass_{i}").alias(f"c{i}") for i in range(len(C4_RULES))],
    )
    rows = F.array(
        F.struct(F.lit(0).alias("stage"), F.lit("input").alias("rule"), F.col("n_in").cast("long").alias("n_pass")),
        *[
            F.struct(
                F.lit(i + 1).alias("stage"),
                F.lit(name).alias("rule"),
                F.col(f"c{i}").cast("long").alias("n_pass"),
            )
            for i, (name, _) in enumerate(C4_RULES)
        ],
    )
    return agg.select(F.explode(rows).alias("r")).select("r.stage", "r.rule", "r.n_pass")


def bigram_lm_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-trained bigram language-model score per document — the
    perplexity-style fluency signal training pipelines threshold on
    (the published recipes score against a KenLM n-gram model; this is
    the same statistic with the model TRAINED ON THE CORPUS ITSELF in
    the same job, add-one smoothed):

        p(w2|w1) = (c(w1 w2) + 1) / (c(w1 ·) + V)
        score(d) = mean over d's bigrams of -log2 p   (lower = more
                   typical of the corpus; boilerplate scores low,
                   line noise scores high)

    Returns (id, n_bigrams, avg_nll) for documents with >= 2 tokens.

    Scale plan: bigrams and their contexts collapse to md5 DIGESTS
    scan-side, so the count aggregations and both probability joins
    shuffle 32-hex keys, never token text. Counts are map-side
    partial; the vocabulary size V is a 1-row aggregate broadcast back
    (the sanctioned scalar pattern). Per-term -log2 values round to 6
    decimals and accumulate as exact decimals, so the per-doc mean is
    order-independent (same convention as every unordered float sum
    here).
    """
    words = F.split(F.trim(F.col(text_col)), " ")
    n = F.size(words)
    # zip_with over two shifted views (O(n), bulk slices) instead of a
    # per-position transform+slice — ~3x cheaper bigram construction
    # (measured at sf0.1; identical output).
    bigram_structs = F.zip_with(
        F.slice(words, 1, n - 1),
        F.slice(words, 2, n - 1),
        lambda a, b: F.struct(
            F.md5(F.concat(a, F.lit(" "), b)).alias("bd"),
            F.md5(a).alias("cd"),
        ),
    )
    # spread BEFORE the md5-heavy explode: a small corpus scans as one
    # partition and the hash work would single-thread. The same exchange
    # is REUSED by every branch below (bg appears in the count build and
    # the probe side), so the scan+explode runs wide once instead of
    # once per consumer.
    src = spread(
        df.filter(F.col(text_col).isNotNull()).filter(n >= 2).select(id_col, text_col),
        id_col,
    )
    bg = src.select(F.col(id_col), F.explode(bigram_structs).alias("b")).select(
        id_col, F.col("b.bd").alias("bd"), F.col("b.cd").alias("cd")
    )
    # context counts derive from the bigram counts (cd is functionally
    # dependent on bd): a groupBy over the DISTINCT-bigram table, not a
    # third corpus pass.
    bgc = bg.groupBy("bd").agg(
        F.count(F.lit(1)).alias("c2"), F.min("cd").alias("cd_of_bd")
    )
    ctx = bgc.groupBy(F.col("cd_of_bd").alias("cd")).agg(F.sum("c2").alias("c1"))
    vocab = (
        spread(df.filter(F.col(text_col).isNotNull()), id_col)
        .select(F.explode(words).alias("tok"))
        .agg(F.countDistinct(F.md5("tok")).alias("v"))
    )
    scored = (
        bg.join(bgc.select("bd", "c2").hint("shuffle_hash"), "bd")
        .join(ctx.hint("shuffle_hash"), "cd")
        .crossJoin(F.broadcast(vocab))
        .select(
            F.col(id_col),
            rd(
                -F.log2(
                    (F.col("c2") + 1).cast("double")
                    / (F.col("c1") + F.col("v")).cast("double")
                ),
                6,
            ).alias("nll"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        rd(
            F.sum(F.col("nll").cast("decimal(38,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("avg_nll"),
    )


def profile_table(df, columns: list[str] | None = None):
    """ANALYZE-style one-pass column profile: per column, the stats a
    corpus dashboard needs before any pipeline decision — row count,
    null count, approximate-free exact distinct count, min/max (as
    strings, type-agnostic), and average length.

    ONE aggregation pass over the table (every stat is an algebraic
    aggregate, so the whole profile map-side combines; distinct counts
    use Spark's two-phase expand — still one logical pass, no per-column
    jobs). Output is LONG form (one row per column) so the profile of a
    1000-column table is as queryable as the table itself.
    """
    from pyspark.sql import functions as F

    cols = columns or df.columns
    aggs = [F.count(F.lit(1)).alias("__n")]  # shared row count, once
    for c in cols:
        col = F.col(c)
        aggs += [
            F.count(col).alias(f"__nn_{c}"),
            F.count_distinct(col).alias(f"__d_{c}"),
            F.min(col.cast("string")).alias(f"__min_{c}"),
            F.max(col.cast("string")).alias(f"__max_{c}"),
            F.avg(F.length(col.cast("string"))).alias(f"__len_{c}"),
        ]
    one = df.agg(*aggs)
    parts = []
    for c in cols:
        parts.append(
            F.struct(
                F.lit(c).alias("column"),
                F.col("__n").alias("n_rows"),
                (F.col("__n") - F.col(f"__nn_{c}")).alias("n_null"),
                F.col(f"__d_{c}").alias("n_distinct"),
                F.col(f"__min_{c}").alias("min_str"),
                F.col(f"__max_{c}").alias("max_str"),
                F.col(f"__len_{c}").alias("avg_len"),
            )
        )
    return one.select(F.explode(F.array(*parts)).alias("p")).select("p.*")


def tfidf_top_terms(
    df: DataFrame,
    top_k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document top-``top_k`` terms by a deterministic tf-idf:
    ``score = tf · (N + 1) / (df + 1)`` — the keyword-extraction /
    doc-representation primitive of text pipelines.

    The idf ratio is deliberately UN-LOGGED: ``ln`` is not
    bit-reproducible across engines (libm vs Java Math.log can differ
    in the last ulp), while IEEE multiply/divide are correctly rounded
    everywhere — so this variant crosses the exact oracle gate, at the
    cost of a steeper rare-term weighting than the classic log form
    (same determinism-over-convention policy as functions/rounding.py).

    Plan: one token explode; tf = map-side-combined count per
    (doc, token); df = a count over the tf table's NARROW (token) rows;
    N joins in as a 1-row broadcast scalar (the sanctioned BNLJ shape);
    the per-doc top-k is a KEYED row_number window. Only (doc, token)
    pairs shuffle — text bytes never leave the scan.
    """
    from pyspark.sql import Window

    from time_series_data_trimmer_spark.functions.rounding import rd

    toks = df.select(
        F.col(id_col), F.explode(F.split(F.trim(F.col(text_col)), " ")).alias("token")
    ).filter(F.length("token") > 0)
    tf = toks.groupBy(id_col, "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("doc_freq"))
    n = df.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = tf.join(dfreq.hint("shuffle_hash"), "token").crossJoin(
        F.broadcast(n)
    ).select(
        F.col(id_col),
        "token",
        "tf",
        "doc_freq",
        (
            F.col("tf").cast("double")
            * (F.col("n_docs") + F.lit(1)).cast("double")
            / (F.col("doc_freq") + F.lit(1)).cast("double")
        ).alias("s"),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("s").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(top_k))
        .select(
            id_col, "token", "tf", "doc_freq", "rank", rd(F.col("s"), 6).alias("score")
        )
    )


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 32,
    overlap: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split documents into overlapping token-window chunks — the
    chunking step that precedes embedding in retrieval pipelines
    (chunk → embed → `sim.mean_pool` back to doc vectors).

    Chunk c covers tokens ``[c·stride, c·stride + chunk_tokens)`` with
    ``stride = chunk_tokens − overlap``; emission STOPS at the first
    chunk that reaches the document end (``c·stride + chunk_tokens ≥
    n``), so the tail is covered exactly once and no chunk is fully
    contained in its predecessor (a naive while-start<n rule emits
    redundant tail slivers that downstream embedding would then
    double-weight — r5 review finding).
    NULL/empty texts produce ZERO chunks — chunking feeds embedding,
    and embedding nothing is not a row.

    Pure scan-side expressions: the token array is built once per row
    (split + empty filter, positions preserved), ``sequence`` fans out
    chunk indices, ``slice`` + ``array_join`` materialize each chunk —
    no shuffle at all; the operator scales with the scan. Output:
    (id, chunk_id, chunk_text, n_tokens).
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    stride = chunk_tokens - overlap
    ts = F.filter(
        F.split(F.trim(F.col(text_col)), " "), lambda x: F.length(x) > 0
    )
    n = F.size(ts)
    n_chunks = F.when(n <= F.lit(chunk_tokens), F.lit(1)).otherwise(
        (
            F.ceil((n - F.lit(chunk_tokens)).cast("double") / F.lit(float(stride)))
            + F.lit(1)
        ).cast("int")
    )
    base = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), ts.alias("__ts"), n.alias("__n"), n_chunks.alias("__nc")
    ).filter(F.col("__n") > 0)
    ex = base.select(
        id_col,
        "__ts",
        "__n",
        F.explode(F.sequence(F.lit(0), F.col("__nc") - 1)).alias("chunk_id"),
    )
    start = F.col("chunk_id") * F.lit(stride)
    piece = F.slice(F.col("__ts"), start + 1, chunk_tokens)
    return ex.select(
        id_col,
        "chunk_id",
        F.array_join(piece, " ").alias("chunk_text"),
        F.least(F.lit(chunk_tokens), F.col("__n") - start).cast("int").alias("n_tokens"),
    )


def collapse_repeat_tokens(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Collapse runs of consecutively-repeated whitespace tokens
    ("the the the cat" → "the cat") — the intra-document repetition
    cleaner of crawl pipelines (boilerplate stutter, scraper echo,
    decoder loops all surface as immediate token repeats).

    Pure scan-side array expressions: split once, keep token i iff it
    differs from token i−1 (index-aware `filter` — the i=0 guard
    compares a token against itself under `greatest(i,1)` instead of
    indexing position 0, which ANSI `element_at` rejects), re-join.
    Returns (id, cleaned text, n_removed); NULL text propagates NULLs.
    """
    w = F.split(F.col(text_col), " ")
    kept = F.filter(
        w,
        lambda x, i: (i == F.lit(0))
        | (x != F.element_at(w, F.greatest(i, F.lit(1)))),
    )
    return df.select(
        F.col(id_col),
        F.array_join(kept, " ").alias("cleaned"),
        (F.size(w) - F.size(kept)).alias("n_removed"),
    )


#: stopword markers for the Gopher-style repetition filter (subset of
#: LANG_MARKERS["en"] that actually occurs in whitespace corpora).
GOPHER_STOPWORDS: tuple[str, ...] = ("the", "a", "of", "and", "to", "in")


def _top_run(sorted_arr: Column, mass_fn) -> Column:
    """Max-char-mass run over a SORTED array: one linear `aggregate`
    pass tracking (prev, run-length, best mass, best gram, best count)
    where mass = run × mass_fn(gram). Equal grams are adjacent after
    `array_sort`, so the most frequent gram is the longest run; strict
    `>` keeps the lexicographically-smallest gram on char-mass ties
    (ascending traversal visits it first). O(n log n) per document and
    entirely scan-side — computing a per-document mode needs no
    explode/groupBy shuffle because documents are row-independent."""
    zero = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("mass"),
        F.lit("").alias("tok"),
        F.lit(0).cast("long").alias("cnt"),
    )

    def step(st, x):
        run2 = F.when(x == st["prev"], st["run"] + F.lit(1).cast("long")).otherwise(
            F.lit(1).cast("long")
        )
        m2 = run2 * mass_fn(x)
        better = m2 > st["mass"]
        return F.struct(
            x.alias("prev"),
            run2.alias("run"),
            F.when(better, m2).otherwise(st["mass"]).alias("mass"),
            F.when(better, x).otherwise(st["tok"]).alias("tok"),
            F.when(better, run2).otherwise(st["cnt"]).alias("cnt"),
        )

    return F.aggregate(sorted_arr, zero, step)


def repetition_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document repetition metrics in the MassiveText/Gopher
    lineage (Rae et al. 2021 §A1.1): duplicate-token fraction and the
    character fraction covered by the most frequent unigram and
    bigram. High values mark boilerplate, scraper echo, and
    decoder-loop text that survives exact dedup because the repetition
    is INTRA-document.

    Definitions (documented because published variants differ):
    `dup_token_frac` = (n_tokens − n_distinct)/n_tokens;
    `top_*_char_frac` = occurrences × covered chars ÷ total token
    chars, where a bigram occurrence covers len(a)+len(b) chars
    (the joining space is excluded; overlapping occurrences count).

    Scale shape: zero shuffle — tokenize, `array_sort`, and one linear
    run-length `aggregate` per gram order, one scan-side stage (per-doc
    mode via sorted runs, NOT an explode + groupBy, which would shuffle
    the corpus token stream for a row-local statistic; the higher-order
    lambdas opt the project out of whole-stage codegen but evaluate
    JVM-side — no Python in the path). Bigrams are zip_with over two shifted
    views (bulk slices — the r5 lesson; per-position slicing is
    quadratic in copies).
    """
    ws = F.filter(
        F.split(F.trim(F.col(text_col)), " "), lambda x: F.length(x) > 0
    )
    base = (
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col), ws.alias("__ws"))
        .filter(F.size("__ws") > 0)
    )
    w = F.col("__ws")
    n = F.size(w)
    n1 = F.greatest(n - F.lit(1), F.lit(0))
    big = F.zip_with(
        F.slice(w, F.lit(1), n1),
        F.slice(w, F.lit(2), n1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    stats = base.select(
        F.col(id_col),
        n.alias("__n"),
        F.size(F.array_distinct(w)).alias("__nd"),
        F.aggregate(
            w, F.lit(0).cast("long"), lambda a, x: a + F.length(x).cast("long")
        ).alias("__chars"),
        _top_run(F.array_sort(w), lambda x: F.length(x).cast("long")).alias("__u"),
        _top_run(
            F.array_sort(big), lambda x: F.length(x).cast("long") - F.lit(1)
        ).alias("__b"),
    )
    return stats.select(
        F.col(id_col),
        F.col("__n").cast("int").alias("n_tokens"),
        F.col("__nd").cast("int").alias("n_distinct"),
        rd((F.col("__n") - F.col("__nd")).cast("double") / F.col("__n"), 6).alias(
            "dup_token_frac"
        ),
        F.col("__u.tok").alias("top_token"),
        F.col("__u.cnt").cast("int").alias("top_token_count"),
        rd(F.col("__u.mass").cast("double") / F.col("__chars"), 6).alias(
            "top_token_char_frac"
        ),
        F.col("__b.tok").alias("top_bigram"),
        F.col("__b.cnt").cast("int").alias("top_bigram_count"),
        rd(F.col("__b.mass").cast("double") / F.col("__chars"), 6).alias(
            "top_bigram_char_frac"
        ),
    )


def gopher_repetition_filter(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Documents surviving the Gopher-style REPETITION rules — the
    quality axis `C4_RULES` does not cover (C4 checks length/ratio
    features; Gopher additionally drops intra-document repetition,
    Rae et al. 2021 Table A1). Rules, all INTEGER-exact comparisons
    (cross-multiplied, no float thresholds):

    - R1 token count in [20, 10000]
    - R2 mean token length in [3, 10]        (3n ≤ chars ≤ 10n)
    - R3 ≥ 2 stopword occurrences            (GOPHER_STOPWORDS)
    - R4 duplicate-token fraction ≤ 0.6      (5(n−nd) ≤ 3n)
    - R5 top-unigram char fraction ≤ 0.15    (20·mass ≤ 3·chars)

    One conjunction over the `repetition_stats` internals plus padded
    stopword counting — a single scan-side JVM stage, zero shuffle,
    nothing collected.
    """
    ws = F.filter(
        F.split(F.trim(F.col(text_col)), " "), lambda x: F.length(x) > 0
    )
    base = (
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col), F.col(text_col), ws.alias("__ws"))
        .filter(F.size("__ws") > 0)
    )
    w = F.col("__ws")
    feats = base.select(
        F.col(id_col),
        F.size(w).cast("long").alias("__n"),
        F.size(F.array_distinct(w)).cast("long").alias("__nd"),
        F.aggregate(
            w, F.lit(0).cast("long"), lambda a, x: a + F.length(x).cast("long")
        ).alias("__chars"),
        _top_run(F.array_sort(w), lambda x: F.length(x).cast("long"))[
            "mass"
        ].alias("__umass"),
        sum(
            (_occurrences(F.col(text_col), s) for s in GOPHER_STOPWORDS),
            F.lit(0),
        ).alias("__stop"),
    )
    cond = (
        F.col("__n").between(20, 10000)
        & (F.lit(3) * F.col("__n") <= F.col("__chars"))
        & (F.col("__chars") <= F.lit(10) * F.col("__n"))
        & (F.col("__stop") >= 2)
        & (F.lit(5) * (F.col("__n") - F.col("__nd")) <= F.lit(3) * F.col("__n"))
        & (F.lit(20) * F.col("__umass") <= F.lit(3) * F.col("__chars"))
    )
    return feats.filter(cond).select(
        F.col(id_col),
        F.col("__n").cast("int").alias("n_tokens"),
        F.col("__stop").cast("int").alias("stopword_hits"),
        rd((F.col("__n") - F.col("__nd")).cast("double") / F.col("__n"), 6).alias(
            "dup_token_frac"
        ),
        rd(F.col("__umass").cast("double") / F.col("__chars"), 6).alias(
            "top_token_char_frac"
        ),
    )


def hashed_linear_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: str = "tsdt|hls",
) -> DataFrame:
    """Per-document linear-model score over hashed token features —
    the fasttext/CCNet-style model-based quality filter SHAPE: each
    token hashes to a weight, the document score is the mean weight
    (the raw logit; no sigmoid — ``exp`` is libm-specific in the last
    ulp and a monotone transform adds nothing to a threshold filter).

    Weights here are md5-derived standins, w(tok) =
    round(u32(md5(seed|tok))/2³² − 0.5, 6) ∈ [−0.5, 0.5] — the
    plumbing (feature hashing, exact accumulation, scan-side scoring)
    is the operator; swapping in learned weights means joining or
    map-literal-ing a real weight table, nothing else changes.

    Scale shape: zero shuffle — tokenize and fold per row, md5
    evaluated inside the lambda, sums exact in decimal(20,6). At
    100 TB this is a pure scan multiply, embarrassingly parallel.
    """
    from time_series_data_trimmer_spark.functions.rounding import rd

    ws = F.filter(
        F.split(F.trim(F.col(text_col)), " "), lambda x: F.length(x) > 0
    )
    base = (
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col), ws.alias("__ws"))
        .filter(F.size("__ws") > 0)
    )

    def w(tok):
        u = F.conv(
            F.substring(F.md5(F.concat(F.lit(seed + "|"), tok)), 1, 8), 16, 10
        ).cast("long")
        return rd(u.cast("double") / F.lit(4294967296.0) - F.lit(0.5), 6)

    total = F.aggregate(
        F.col("__ws"),
        F.lit(0).cast("decimal(20,6)"),
        lambda acc, t: (acc + w(t).cast("decimal(20,6)")).cast("decimal(20,6)"),
    )
    return base.select(
        F.col(id_col),
        F.size("__ws").cast("int").alias("n_tokens"),
        rd(total.cast("double") / F.size("__ws"), 6).alias("logit"),
    )


def gopher_repetition_survivor_rows(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """`gopher_repetition_filter` as a row filter: the INPUT rows that
    survive the repetition rules, plus `n_tokens` — the form pipeline
    compositions consume (the feature-frame variant returns metrics
    instead of payload columns)."""
    ws = F.filter(
        F.split(F.trim(F.col(text_col)), " "), lambda x: F.length(x) > 0
    )
    base = (
        df.filter(F.col(text_col).isNotNull())
        .withColumn("__ws", ws)
        .filter(F.size("__ws") > 0)
    )
    w = F.col("__ws")
    n = F.size(w).cast("long")
    nd = F.size(F.array_distinct(w)).cast("long")
    chars = F.aggregate(
        w, F.lit(0).cast("long"), lambda a, x: a + F.length(x).cast("long")
    )
    umass = _top_run(F.array_sort(w), lambda x: F.length(x).cast("long"))["mass"]
    stop = sum(
        (_occurrences(F.col(text_col), s) for s in GOPHER_STOPWORDS), F.lit(0)
    )
    cond = (
        n.between(20, 10000)
        & (F.lit(3) * n <= chars)
        & (chars <= F.lit(10) * n)
        & (stop >= 2)
        & (F.lit(5) * (n - nd) <= F.lit(3) * n)
        & (F.lit(20) * umass <= F.lit(3) * chars)
    )
    return base.filter(cond).withColumn("n_tokens", n.cast("int")).drop("__ws")


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """BM25 retrieval: top-``k`` documents for a bag-of-words query —
    the lexical-retrieval half of a RAG / eval-set-mining pipeline
    (Robertson & Zaragoza 2009, Okapi BM25).

    The idf is the BM25 ratio UN-LOGGED — ``(N − df + 0.5)/(df + 0.5)``
    — for the same reason `tfidf_top_terms` un-logs its idf: ``ln`` is
    not bit-reproducible across engines while IEEE ×/÷ are correctly
    rounded everywhere. Ranking monotonicity per term is unchanged
    (log is monotone); absolute scores are steeper. Per-term scores
    are rounded to 9 dp and summed as DECIMAL so the multi-term sum is
    order-independent.

    Plan shape: the query-term filter lands ON THE SCAN (an `isin`
    over the exploded tokens, before any shuffle), so tf/df move only
    (doc, term∈query) rows — at 100 TB that is the difference between
    shuffling the corpus vocabulary and shuffling ~|query| longs per
    matching doc. Document length joins in keyed on the id
    (shuffle-hash); the corpus stats (N, total length → avgdl) is the
    sanctioned 1-row broadcast. Top-k is a single global
    orderBy+limit — a per-partition TakeOrdered, no full sort.
    """
    from pyspark.sql import Window  # noqa: F401  (kept for parity with siblings)

    from time_series_data_trimmer_spark.functions.rounding import rd

    terms = [str(t) for t in query_terms]
    toks = df.select(
        F.col(id_col), F.explode(F.split(F.trim(F.col(text_col)), " ")).alias("token")
    ).filter(F.length("token") > 0)
    dl = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1)).cast("double")).alias("avgdl"),
    )
    tf = (
        toks.filter(F.col("token").isin(terms))
        .groupBy(id_col, "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("doc_freq"))
    joined = (
        tf.join(dfreq.hint("shuffle_hash"), "token")
        .join(dl.hint("shuffle_hash"), id_col)
        .crossJoin(F.broadcast(stats))
    )
    idf = (
        F.col("n_docs").cast("double") - F.col("doc_freq").cast("double") + F.lit(0.5)
    ) / (F.col("doc_freq").cast("double") + F.lit(0.5))
    denom = F.col("tf").cast("double") + F.lit(float(k1)) * (
        F.lit(1.0 - float(b))
        + F.lit(float(b)) * F.col("dl").cast("double") / F.col("avgdl")
    )
    term_score = idf * (F.col("tf").cast("double") * F.lit(float(k1) + 1.0)) / denom
    per_doc = joined.select(
        F.col(id_col),
        rd(term_score, 9).cast("decimal(38,9)").alias("s"),
    ).groupBy(id_col).agg(
        F.sum("s").alias("s_dec"), F.count(F.lit(1)).alias("n_terms_matched")
    )
    return (
        per_doc.select(
            F.col(id_col),
            F.col("n_terms_matched"),
            rd(F.col("s_dec").cast("double"), 6).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(int(k))
    )


def quality_percentile_by_group(
    df: DataFrame,
    group_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-group quality-score normalization: percent_rank of each
    document's quality WITHIN its group, plus the decile bucket — the
    "keep the top X% per language" selection primitive (absolute
    quality thresholds are incomparable across languages; rank within
    the language first, then cut).

    Determinism: the rank orders by the 6-dp ROUNDED score, so ties
    are value-ties in every engine (percent_rank gives tied values the
    same rank; ntile would split ties by arbitrary row order and is
    deliberately avoided). Decile = min(9, floor(pct·10)).

    Plan: quality features are pure codegen on the scan; ONE shuffle
    on the group key serves the rank window. Group count is small
    (languages), so partitions are few and large — at 100 TB replace
    percent_rank with a two-pass histogram rank (per-group value
    histogram broadcast, rank = running count below) to avoid the
    single-reducer-per-language window; the semantics here are the
    spec for that rewrite.
    """
    from pyspark.sql import Window

    from time_series_data_trimmer_spark.functions.rounding import rd

    scored = quality_score(df, text_col)
    q6 = rd(F.col("quality"), 6)
    w = Window.partitionBy(group_col).orderBy(q6.asc())
    return (
        scored.withColumn("q6", q6)
        .withColumn("pct_rank", rd(F.percent_rank().over(w), 9))
        .select(
            F.col(id_col),
            F.col(group_col),
            F.col("q6").alias("quality"),
            "pct_rank",
            F.least(
                F.lit(9).cast("long"), F.floor(F.col("pct_rank") * F.lit(10.0))
            ).alias("decile"),
        )
    )


def ngram_topk_global(
    df: DataFrame,
    n: int = 2,
    k: int = 25,
    text_col: str = "text",
) -> DataFrame:
    """Global top-``k`` word n-grams by OCCURRENCE count (not distinct
    docs) — the corpus-statistics view (boilerplate discovery, stop
    phrase lists, tokenizer-vocab seeding) where `tfidf_top_terms` is
    the per-document view.

    Grams build scan-side with shifted array views (`arrays_zip` on
    `slice`d copies — the zero-copy trick from the bigram LM, not a
    per-position lambda); occurrences (NOT deduped per doc) flow into
    ONE map-side-combined count, so the shuffle carries (gram, partial
    count) — bounded by vocabulary, not corpus. Top-k is a
    TakeOrdered, tie-broken on the gram text for determinism.
    """
    words = F.split(F.trim(F.col(text_col)), " ")
    views = [words] + [
        F.slice(words, i + 1, F.greatest(F.size(words) - i, F.lit(0)))
        for i in range(1, n)
    ]
    zipped = F.arrays_zip(*views)
    gram = F.concat_ws(
        " ", *[F.col("z").getField(str(i)) for i in range(n)]
    )
    grams = (
        df.filter(F.col(text_col).isNotNull())
        .select(F.explode(zipped).alias("z"))
        # a zip row is a full n-gram only when every view still has an
        # element (the last n-1 rows of each doc are ragged)
        .filter(F.col("z").getField(str(n - 1)).isNotNull())
        .select(gram.alias("gram"))
        .filter(F.length("gram") > 0)
    )
    return (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("occurrences"))
        .orderBy(F.col("occurrences").desc(), F.col("gram").asc())
        .limit(int(k))
    )


def rrf_fuse(
    rankings: list[DataFrame],
    k: int = 60,
    query_col: str = "query_id",
    id_col: str = "doc_id",
    score_col: str = "score",
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of per-query
    ranked lists — the hybrid-retrieval combiner (BM25 ⊕ dense cosine)
    every RAG stack runs: ``fused(d) = Σ_lists 1/(k + rank_list(d))``.

    Each input carries (query, doc, score); ranks derive per QUERY
    (row_number partitioned by the query key, ordered score desc then
    id — a KEYED window over top-k-bounded lists, never a global
    sort), so a million-query batch fuses in one pass. The reciprocal
    terms are 9-dp-rounded and decimal-summed — order-independent,
    engine-portable (1/(k+rank) is one correctly-rounded division).

    Output: (query, doc, n_lists it appeared in, fused score).
    """
    from pyspark.sql import Window

    from time_series_data_trimmer_spark.functions.rounding import rd

    parts = []
    for df in rankings:
        w = Window.partitionBy(query_col).orderBy(
            F.col(score_col).desc(), F.col(id_col).asc()
        )
        parts.append(
            df.select(query_col, id_col, score_col)
            .withColumn("__rank", F.row_number().over(w))
            .select(
                query_col,
                id_col,
                rd(
                    F.lit(1.0) / (F.lit(float(k)) + F.col("__rank").cast("double")),
                    9,
                )
                .cast("decimal(38,9)")
                .alias("__rr"),
            )
        )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return u.groupBy(query_col, id_col).agg(
        F.count(F.lit(1)).alias("n_lists"),
        rd(F.sum("__rr").cast("double"), 9).alias("rrf_score"),
    )


def token_gini(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document token-distribution Gini impurity
    ``1 − Σ_t (c_t/n)²`` — the lexical-diversity score (0 = one token
    repeated, → 1 = all tokens distinct). The portable stand-in for
    token entropy: entropy needs ``log`` (not bit-reproducible across
    engines) while Gini is squares and exact-integer ratios —
    correctly-rounded IEEE everywhere. Ranks documents the same way
    for the repetitive-junk filtering this feeds (both are Schur-
    concave in the count vector); the Gopher repetition rules
    (`gopher_repetition_filter`) are the hard-threshold complement.

    Determinism: each squared ratio is 12-dp-rounded and the sum is
    DECIMAL — order-independent. Plan: one (doc, token) count, the
    per-doc total via a window on the SAME doc-key Exchange, one
    map-side-combined decimal sum.
    """
    from pyspark.sql import Window

    from time_series_data_trimmer_spark.functions.rounding import rd

    toks = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.col(text_col)), " ")).alias("token"),
    ).filter(F.length("token") > 0)
    tf = toks.groupBy(id_col, "token").agg(F.count(F.lit(1)).alias("c"))
    n = F.sum("c").over(Window.partitionBy(id_col))
    ratio2 = rd(
        (F.col("c").cast("double") / F.col("__n").cast("double"))
        * (F.col("c").cast("double") / F.col("__n").cast("double")),
        12,
    )
    return (
        tf.withColumn("__n", n)
        .groupBy(id_col)
        .agg(
            F.max("__n").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.sum(ratio2.cast("decimal(38,12)")).alias("__s"),
        )
        .select(
            F.col(id_col),
            F.col("n_tokens"),
            F.col("n_distinct"),
            rd(F.lit(1.0) - F.col("__s").cast("double"), 9).alias("gini"),
        )
    )


def chunks_udtf_frame(df: DataFrame, chunk_tokens: int = 8) -> DataFrame:
    """Document chunking through a Python UDTF (Spark 4 user-defined
    TABLE function, Arrow-optimized) — the §2.11 surface-completeness
    twin of `chunk_documents`: that one is the PRODUCTION path (pure
    codegen array slicing); this one demonstrates the lateral
    table-function API for logic that genuinely can't be expressed as
    expressions (external tokenizers, stateful parsers). Semantics are
    the deterministic fixed-stride token chunking, so the exact oracle
    still applies — proving the UDTF boundary doesn't perturb values.
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="seg_idx int, segment string", useArrow=True)
    class _ChunkTokens:
        def eval(self, doc_id, text):  # noqa: ANN001
            if text is None:
                return
            toks = [t for t in text.strip().split(" ") if t]
            for i in range(0, len(toks), chunk_tokens):
                yield i // chunk_tokens, " ".join(toks[i : i + chunk_tokens])

    spark = df.sparkSession
    spark.udtf.register("tsdt_chunk_tokens", _ChunkTokens)
    df.createOrReplaceTempView("__tsdt_chunk_in")
    return spark.sql(
        """
        SELECT d.doc_id, s.seg_idx, s.segment
        FROM __tsdt_chunk_in d,
             LATERAL tsdt_chunk_tokens(d.doc_id, d.text) s
        """
    )


def vocab_growth(
    df: DataFrame,
    n_buckets: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: str = "tsdt|vocab",
) -> DataFrame:
    """Heaps-law vocabulary-growth curve: cumulative distinct tokens
    (and docs / token instances) after each tenth of the corpus, in a
    deterministic hash-ingestion order.

    The planning signal behind dedup/diversity budgets: a corpus whose
    vocabulary curve has flattened yields little new signal per added
    shard (Heaps 1978, V ∝ nᵝ). "Ingestion order" is the md5
    permutation of doc ids (the same order `mix_shuffle_shards`
    exports), so the curve is append-stable and engine-portable.

    Plan: tokens collapse to (md5-token, min bucket) — one narrow
    digest shuffle; cumulative sums come from an explode(sequence)
    over the ≤ n_buckets aggregate rows, never a keyless window.
    """
    from time_series_data_trimmer_spark.functions.rounding import rd  # noqa: F401
    from time_series_data_trimmer_spark.operators.sampling import hash_u32

    bucket = F.floor(
        hash_u32(F.col(id_col), seed) * F.lit(n_buckets) / F.lit(float(1 << 32))
    ).cast("int")
    toks = (
        df.filter(F.col(text_col).isNotNull())
        .select(
            bucket.alias("bucket"),
            F.explode(F.split(F.trim(F.col(text_col)), " ")).alias("token"),
        )
        .filter(F.length("token") > 0)
        .select("bucket", F.md5("token").alias("td"))
    )
    # per-token first bucket -> vocab contribution at that bucket
    firsts = toks.groupBy("td").agg(F.min("bucket").alias("fb"))
    vocab_at = firsts.groupBy("fb").agg(F.count(F.lit(1)).alias("new_vocab"))
    # instances + docs per bucket (docs from the id frame, not the explode)
    inst_at = toks.groupBy("bucket").agg(F.count(F.lit(1)).alias("new_inst"))
    docs_at = (
        df.filter(F.col(text_col).isNotNull())
        .select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("new_docs"))
    )
    last = int(n_buckets) - 1

    def _cum(at: DataFrame, bcol: str, vcol: str, out: str) -> DataFrame:
        # explode each bucket's contribution to every bucket >= it:
        # O(n_buckets^2) tiny rows, no keyless window anywhere
        return (
            at.select(
                F.explode(F.sequence(F.col(bcol), F.lit(last))).alias("bucket"),
                F.col(vcol),
            )
            .groupBy("bucket")
            .agg(F.sum(vcol).alias(out))
        )

    v = _cum(vocab_at, "fb", "new_vocab", "vocab_cum")
    i = _cum(inst_at, "bucket", "new_inst", "instances_cum")
    d = _cum(docs_at, "bucket", "new_docs", "docs_cum")
    return (
        d.join(i.hint("shuffle_hash"), "bucket")
        .join(v.hint("shuffle_hash"), "bucket")
        .select(
            F.col("bucket").cast("long").alias("bucket"),
            "docs_cum",
            "instances_cum",
            "vocab_cum",
        )
    )


def token_entropy(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Shannon entropy (bits) of the token distribution per corpus
    slice — the mixing/diversity health metric reported per source or
    per language when assembling a pretraining blend (a collapsing
    source shows up as an entropy drop long before dedup flags it).

    `token_gini` stays the per-DOCUMENT diversity score precisely
    because it avoids log; here the group count is small (sources,
    languages — not documents), so we accept log2 with the bigram-LM
    discipline: each term −p·log₂p is 6-dp-rounded and accumulated in
    DECIMAL, making the sum order-independent and the per-term values
    engine-comparable at the rounded grid. `norm_entropy` divides by
    log₂(vocab) (exact ints in, one IEEE division out) for a 0-1
    evenness score comparable across slices of different vocabulary.

    Plan: one (group, token) count — vocabulary-bounded shuffle after
    the map-side combine — then a group-keyed total join and one
    decimal sum; nothing scales with corpus rows past the first
    aggregation.
    """
    from time_series_data_trimmer_spark.functions.rounding import rd

    toks = (
        df.filter(F.col(text_col).isNotNull())
        .select(
            F.col(group_col).alias("grp"),
            F.explode(F.split(F.trim(F.col(text_col)), " ")).alias("token"),
        )
        .filter(F.length("token") > 0)
    )
    tf = toks.groupBy("grp", "token").agg(F.count(F.lit(1)).alias("c"))
    tot = tf.groupBy("grp").agg(
        F.sum("c").alias("__n"), F.count(F.lit(1)).alias("vocab")
    )
    p = F.col("c").cast("double") / F.col("__n").cast("double")
    term = rd(-p * F.log2(p), 6)
    ent = (
        tf.join(tot.hint("shuffle_hash"), "grp")
        .groupBy("grp")
        .agg(
            F.max("__n").alias("n_tokens"),
            F.max("vocab").alias("vocab"),
            F.sum(term.cast("decimal(38,6)")).cast("double").alias("__h"),
        )
    )
    return ent.select(
        F.col("grp").alias(group_col),
        "n_tokens",
        "vocab",
        rd(F.col("__h"), 6).alias("entropy_bits"),
        rd(
            F.when(F.col("vocab") <= 1, F.lit(0.0)).otherwise(
                F.col("__h") / F.log2(F.col("vocab").cast("double"))
            ),
            6,
        ).alias("norm_entropy"),
    )


def ngram_novelty(
    df: DataFrame,
    n: int = 3,
    rare_df: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a doc's DISTINCT
    word n-grams that appear in at most ``rare_df`` documents
    corpus-wide — high novelty marks unique content worth keeping,
    near-zero novelty marks boilerplate assembled from corpus-common
    phrases, and (inverted) it is the memorization-risk screen: a doc
    whose grams are all corpus-frequent teaches nothing new.

    Grams build scan-side (shifted array views, the `ngram_topk_global`
    trick) and collapse to md5 digests immediately — text never
    shuffles. Plan: one (doc, digest) distinct, one digest-keyed
    document-frequency count joined back digest-keyed, one per-doc
    aggregation.
    """
    from time_series_data_trimmer_spark.functions.rounding import rd

    words = F.split(F.trim(F.col(text_col)), " ")
    views = [words] + [
        F.slice(words, i + 1, F.greatest(F.size(words) - i, F.lit(0)))
        for i in range(1, n)
    ]
    zipped = F.arrays_zip(*views)
    gram = F.concat_ws(" ", *[F.col("z").getField(str(i)) for i in range(n)])
    grams = (
        df.filter(F.col(text_col).isNotNull())
        .filter(F.size(words) >= n)
        .select(F.col(id_col), F.explode(zipped).alias("z"))
        .select(
            F.col(id_col),
            F.md5(gram).alias("gd"),
            F.size(F.split(gram, " ")).alias("__w"),
        )
        .filter(F.col("__w") == n)  # drop the ragged tail views
        .select(id_col, "gd")
        .distinct()
    )
    dfreq = grams.groupBy("gd").agg(F.count(F.lit(1)).alias("df"))
    return (
        grams.join(dfreq.hint("shuffle_hash"), "gd")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                F.when(F.col("df") <= rare_df, 1).otherwise(0)
            ).alias("n_rare"),
        )
        .select(
            id_col,
            "n_grams",
            F.col("n_rare").cast("long").alias("n_rare"),
            rd(
                F.col("n_rare").cast("double") / F.col("n_grams"), 6
            ).alias("novelty"),
        )
    )


def _merge_fold(tokens: Column, lhs: str, rhs: str) -> Column:
    """ONE BPE merge applied to a token-array column as a single
    `F.aggregate` fold with struct state (arr, carry): emit the merged
    pair leftmost-first non-overlapping ('a a a' -> first two merge,
    third survives). Pure codegen — no Python touches a row. Shared by
    the trainer's per-round corpus rewrite and `bpe_encode`'s
    application of a learned merge table."""
    joined = F.lit(lhs + " " + rhs)
    null_s = F.lit(None).cast("string")

    def step(acc, t):
        return (
            F.when(
                (acc["carry"] == F.lit(lhs)) & (t == F.lit(rhs)),
                F.struct(
                    F.concat(acc["arr"], F.array(joined)).alias("arr"),
                    null_s.alias("carry"),
                ),
            )
            .when(
                acc["carry"].isNull(),
                F.struct(acc["arr"].alias("arr"), t.alias("carry")),
            )
            .otherwise(
                F.struct(
                    F.concat(acc["arr"], F.array(acc["carry"])).alias("arr"),
                    t.alias("carry"),
                )
            )
        )

    return F.aggregate(
        tokens,
        F.struct(
            F.array().cast("array<string>").alias("arr"),
            null_s.alias("carry"),
        ),
        step,
        lambda acc: F.when(acc["carry"].isNull(), acc["arr"]).otherwise(
            F.concat(acc["arr"], F.array(acc["carry"]))
        ),
    )


def _norm_tokens(text_col: str) -> Column:
    """The trainer/encoder's shared normalization: lowercase, collapse
    non-alphanumerics to spaces, split, drop empties."""
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]+", " "))
    return F.filter(F.split(norm, " "), lambda t: F.length(t) > 0)


def bpe_merge_trainer(
    df: DataFrame,
    rounds: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> "DataFrame":
    """Distributed BPE-style merge training over word sequences (the
    word-level form of Sennrich et al. 2016's byte-pair encoding —
    equivalently, greedy phrase mining): for ``rounds`` iterations,
    find the corpus's most frequent ADJACENT token pair and merge
    every non-overlapping left-to-right occurrence, letting later
    rounds merge previous merges into longer phrases. Returns the
    learned merge table (round, lhs, rhs, n_merges) — the model a
    tokenizer ships.

    Each round is (1) an adjacent-pair count: zip_with of two array
    slices explodes to (a, b) rows, ONE map-side-combined aggregation,
    top-1 via TakeOrdered with (count desc, a, b) tie-break — no
    global sort; (2) the corpus rewrite: a single `F.aggregate` fold
    per document with struct state (arr, carry) that emits the merged
    pair leftmost-first non-overlapping — pure codegen, no Python.
    `localCheckpoint` truncates lineage between rounds (the
    connected-components precedent). Per-round cost is one token-scan
    + one bounded agg at ANY corpus size; the collected top-1 is a
    1-row bounded collect.

    The oracle replays every round verbatim in SQL (unrolled CTEs,
    same tie-break, same fold via list_reduce — with every branch
    rebuilding the list to dodge DuckDB 1.0's lambda list-aliasing
    bug, see the verify skill).
    """
    spark = df.sparkSession
    merges = bpe_train_merges(df, rounds=rounds, id_col=id_col, text_col=text_col)
    return spark.createDataFrame(
        merges, "round int, lhs string, rhs string, n_merges long"
    )


def bpe_train_merges(
    df: DataFrame,
    rounds: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> list[tuple[int, str, str, int]]:
    """The trainer's driver-side form: the learned merge table as a
    Python list of (round, lhs, rhs, n_merges) — the small model
    artifact `bpe_encode` ships to executors as literals. Same
    algorithm as `bpe_merge_trainer` (which wraps this); one bounded
    1-row collect per round."""
    cur = (
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col), _norm_tokens(text_col).alias("__toks"))
        .localCheckpoint()
    )
    merges: list[tuple[int, str, str, int]] = []
    for r in range(1, rounds + 1):
        n = F.size("__toks")
        pairs = cur.select(
            F.explode(
                F.zip_with(
                    F.slice(F.col("__toks"), F.lit(1), n - 1),
                    F.slice(F.col("__toks"), F.lit(2), n - 1),
                    lambda a, b: F.struct(a.alias("a"), b.alias("b")),
                )
            ).alias("p")
        ).select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        top = (
            pairs.groupBy("a", "b")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("a").asc(), F.col("b").asc())
            .limit(1)
            .collect()
        )
        if not top:
            break
        A, B, cnt = top[0]["a"], top[0]["b"], int(top[0]["cnt"])
        merges.append((r, A, B, cnt))
        # r10: the rewrite rides the Arrow kernel (token-identical to
        # `_merge_fold`, pytest-pinned) — the fold costs ~0.8 s/rule
        # on sf0.1 (SCALING.md r10 crossover row) vs a near-flat
        # kernel pass, and the round's localCheckpoint hides neither.
        # The eager localCheckpoint materializes the rewrite, so the
        # round's rule broadcast is dead afterwards — destroy it, or
        # one broadcast per merge round accumulates on executors for
        # the session's lifetime (ADVICE r10).
        rewritten, bc = _apply_merges_arrow(cur, [(A, B)], id_col, "__toks")
        cur = rewritten.localCheckpoint()
        bc.destroy()
    return merges


def bpe_train_merges_local(
    df: DataFrame,
    rounds: int = 5,
    sample_rate: float | None = None,
    sample_seed: str = "bpe-sample",
    id_col: str = "doc_id",
    text_col: str = "text",
    max_sample_tokens: int = 50_000_000,
) -> list[tuple[int, str, str, int]]:
    """SAMPLE-TO-DRIVER BPE trainer — the sanctioned production-scale
    path (VERDICT r10 #5). The distributed trainer
    (`bpe_train_merges`) runs one Spark job per merge round; at a
    production vocabulary (10^4-10^5 merges) that is 10^4+ SEQUENTIAL
    jobs — scheduling overhead alone dominates, regardless of
    per-round cost. Production tokenizers are trained on a corpus
    SAMPLE on one machine (the HF-tokenizers / SentencePiece model);
    this is that path, kept oracle-replayable:

    1. deterministic Bernoulli doc sample via the portable md5 coin
       (`sampling.hash_u32` — pure function of (seed, key), identical
       in Spark / DuckDB / Python, layout-independent);
    2. ONE bounded collect of the sampled, Spark-tokenized corpus —
       bounded by contract: a pre-collect token-count aggregate raises
       if the sample exceeds ``max_sample_tokens`` (invariant-6: a
       driver materialization must carry a data-derived bound, never
       hope);
    3. pure-Python training with the distributed trainer's EXACT
       semantics — same adjacent-pair count, same (count desc, lhs,
       rhs) tie-break, same leftmost-non-overlapping rewrite
       (literally `_apply_rules_py`, the ranked kernel's inner loop) —
       so on the same input the merge table is value-identical
       (pytest-pinned). Pair counts are maintained INCREMENTALLY
       (pair -> posting-docs map; each round re-derives only the docs
       containing the winning pair), so a production 10^4-10^5-merge
       run costs O(affected doc lengths) per round, not
       O(sample_tokens) — the property that makes this path actually
       viable at production merge counts, not just claimed.

    The returned table feeds `bpe_encode_auto` for the full-corpus
    distributed encode, which is merge-count-constant (one Arrow
    pass). Net: training cost scales with the SAMPLE, encode with the
    corpus, and neither multiplies by |merges|.
    """
    base = df.filter(F.col(text_col).isNotNull())
    if sample_rate is not None:
        from time_series_data_trimmer_spark.operators.sampling import (
            hash_sample,
        )

        base = hash_sample(base, sample_rate, key_col=id_col, seed=sample_seed)
    toks_df = base.select(_norm_tokens(text_col).alias("__toks"))
    n_tok = toks_df.agg(
        F.coalesce(F.sum(F.size("__toks")), F.lit(0)).alias("n")
    ).collect()[0]["n"]
    if n_tok > max_sample_tokens:
        raise ValueError(
            f"bpe_train_merges_local: sample holds {n_tok} tokens > "
            f"max_sample_tokens={max_sample_tokens}; lower sample_rate — "
            "the driver-side trainer is only sanctioned for bounded samples"
        )
    corpora = [list(r["__toks"]) for r in toks_df.collect()]
    # Incremental pair-count maintenance (ADVICE r11 #1): production
    # trainers never recount the whole sample per merge round — at
    # 10^4 rounds x a 50M-token sample a full recount+rewrite is
    # O(rounds x sample_tokens) and cannot finish. Keep (a) global
    # adjacent-pair counts and (b) a pair -> {doc index} posting map;
    # each round touches ONLY the docs that contain the winning pair,
    # subtracting their old pair contributions and re-adding after the
    # leftmost-non-overlapping rewrite (`_apply_rules_py`, the exact
    # kernel the full recount used — so the merge table, counts and
    # tie-breaks included, is value-identical; pytest-pinned against
    # the distributed trainer). Per-round cost is O(sum of affected
    # doc lengths + |distinct pairs|), not O(sample_tokens); by the
    # tail rounds the winning pair lives in a vanishing doc fraction.

    def _doc_pair_counts(toks: list) -> dict[tuple[str, str], int]:
        c: dict[tuple[str, str], int] = {}
        for p in zip(toks, toks[1:]):
            c[p] = c.get(p, 0) + 1
        return c

    counts: dict[tuple[str, str], int] = {}
    where: dict[tuple[str, str], set[int]] = {}
    for i, toks in enumerate(corpora):
        for p, c in _doc_pair_counts(toks).items():
            counts[p] = counts.get(p, 0) + c
            where.setdefault(p, set()).add(i)
    merges: list[tuple[int, str, str, int]] = []
    for r in range(1, rounds + 1):
        if not counts:
            break
        (A, B), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((r, A, B, int(cnt)))
        for i in sorted(where.get((A, B), ())):
            old = _doc_pair_counts(corpora[i])
            corpora[i] = _apply_rules_py(corpora[i], [(A, B)])
            new = _doc_pair_counts(corpora[i])
            for p in old.keys() | new.keys():
                d = new.get(p, 0) - old.get(p, 0)
                if d:
                    nc = counts.get(p, 0) + d
                    if nc:
                        counts[p] = nc
                    else:
                        del counts[p]
                if p not in new:
                    s = where.get(p)
                    if s is not None:
                        s.discard(i)
                        if not s:
                            del where[p]
                elif p not in old:
                    where.setdefault(p, set()).add(i)
    return merges


def bpe_encode(
    df: DataFrame,
    merges: list[tuple],
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "bpe_tokens",
    checkpoint_every: int = 16,
) -> DataFrame:
    """Tokenizer APPLICATION — the missing half of the BPE story: apply
    a learned merge table (from `bpe_train_merges` /
    `bpe_merge_trainer`; tuples may be (lhs, rhs) or the trainer's
    (round, lhs, rhs, n_merges)) to every document, in training order,
    with exactly the trainer's leftmost-non-overlapping fold semantics
    (`_merge_fold` is literally shared). Returns (id_col,
    n_tokens_raw, out_col array<string>) — real token sequences, so
    downstream budgeting / packing stops running on the chars/4
    `bpe_ish_token_estimate`.

    Scale shape: the merge table is a tiny model shipped as LITERALS
    inside the fold expressions — no join, no shuffle, no Python; the
    whole encode is scan-side codegen, one pass over the corpus.
    Catalyst collapses the per-merge projections into one, so
    expression depth grows linearly with the merge count; every
    ``checkpoint_every`` merges a lazy localCheckpoint bounds the
    codegen unit (production merge tables are 10^4-10^5 rules — depth
    must be bounded, not hoped about).
    """
    toks = _norm_tokens(text_col)
    cur = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        F.size(toks).cast("long").alias("n_tokens_raw"),
        toks.alias(out_col),
    )
    for i, m in enumerate(merges, start=1):
        lhs, rhs = (m[1], m[2]) if len(m) >= 4 else (m[0], m[1])
        cur = cur.select(
            F.col(id_col),
            F.col("n_tokens_raw"),
            _merge_fold(F.col(out_col), lhs, rhs).alias(out_col),
        )
        if checkpoint_every and i % checkpoint_every == 0 and i < len(merges):
            cur = cur.localCheckpoint(eager=False)
    return cur


#: Fold→ranked encoder crossover (|merges| above which
#: `bpe_encode_auto` switches from the literal-fold plan to the Arrow
#: ranked kernel). MEASURED on sf0.1 documents (scripts/
#: bench_bpe_crossover.py best-of-2 per size, SCALING.md "r10 BPE
#: encoder crossover"): the fold's `F.aggregate` struct-state pass
#: costs ~0.8 s per RULE on this corpus (1 rule 1.50 s … 128 rules
#: 100.8 s, linear), while the ranked kernel's one Arrow pass is
#: near-flat (0.44–2.2 s over the same range) — the fold NEVER wins,
#: not even at one rule (1.50 vs 0.52 s). The r9 assumption that
#: scan-side codegen beats the Arrow exchange at small tables was
#: wrong for this operator: per-element expression folds are
#: interpreter-heavy, exactly the DSP-kernel precedent (invariant 3's
#: sanctioned Python boundary). Crossover 0 → always ranked; the
#: dispatch stays so a JVM-only deployment can force the fold path.
BPE_ENCODE_CROSSOVER = 0


def _apply_rules_py(toks: list, rules: list) -> list:
    """The ranked kernel's inner loop: apply each (lhs, rhs) rule in
    order, leftmost-first non-overlapping — token-identical to chaining
    `_merge_fold` once per rule (pytest-pinned). A token-membership
    skip set prunes rules that cannot fire in O(1). Shared by
    `bpe_encode_ranked` and the trainer's per-round rewrite."""
    present = set(toks)
    for lhs, rhs in rules:
        if lhs not in present or rhs not in present:
            continue
        res = []
        i, n, fired = 0, len(toks), False
        joined = lhs + " " + rhs
        while i < n:
            if i + 1 < n and toks[i] == lhs and toks[i + 1] == rhs:
                res.append(joined)
                i += 2
                fired = True
            else:
                res.append(toks[i])
                i += 1
        if fired:
            toks = res
            present = set(toks)
    return toks


def _apply_merges_arrow(
    df: DataFrame, rules: list[tuple], id_col: str, toks_col: str
):
    """One Arrow `mapInPandas` pass applying ``rules`` to an
    ALREADY-TOKENIZED array column — the tokenized-input form of
    `bpe_encode_ranked` (same `_apply_rules_py` kernel, same
    non-overlap contract). Used by the trainer's per-round corpus
    rewrite, where the measured fold cost (~0.8 s/rule on sf0.1,
    SCALING.md r10) made each training round pay a full fold stage.

    Returns ``(df, broadcast)`` — the caller OWNS the rule broadcast
    and must ``destroy()`` it once the result is materialized (the
    trainer does so after each round's eager localCheckpoint), so
    per-round broadcasts don't accumulate on executors (ADVICE r10)."""
    from pyspark.sql import types as T

    spark = df.sparkSession
    bc = spark.sparkContext.broadcast([tuple(r) for r in rules])
    out_schema = T.StructType(
        [
            df.schema[id_col],
            T.StructField(toks_col, T.ArrayType(T.StringType()), False),
        ]
    )

    def run(batches):
        import pandas as pd

        rules_l = bc.value
        for pdf in batches:
            ids, outs = [], []
            for did, arr in zip(pdf[id_col], pdf[toks_col]):
                ids.append(did)
                outs.append(_apply_rules_py(list(arr), rules_l))
            yield pd.DataFrame({id_col: ids, toks_col: outs})

    return df.select(id_col, toks_col).mapInPandas(run, schema=out_schema), bc


def bpe_encode_auto(
    df: DataFrame,
    merges: list[tuple],
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "bpe_tokens",
    crossover: int = BPE_ENCODE_CROSSOVER,
) -> DataFrame:
    """ENCODER DISPATCH (VERDICT r9 #2): pick the tokenizer-application
    engine by merge-table size. The measurement came out one-sided —
    the Arrow ranked kernel beats the literal-fold codegen plan at
    EVERY table size on the measured corpora (see
    `BPE_ENCODE_CROSSOVER`) — so the default dispatches every
    non-empty table to `bpe_encode_ranked`; the ``crossover`` knob
    remains for deployments that must stay JVM-only. The two encoders
    are token-identical by contract (asserted in tests, value-checked
    against the same DuckDB replay), so the dispatch is invisible to
    results and to every oracle — only the physical plan changes.
    Invariant-13 shape: the selection input (|merges|) is data-derived
    from the model artifact itself, and the degenerate empty table
    short-circuits to the fold path (a no-op projection).
    """
    if len(merges) <= int(crossover):
        return bpe_encode(
            df, merges, id_col=id_col, text_col=text_col, out_col=out_col
        )
    return bpe_encode_ranked(
        df, merges, id_col=id_col, text_col=text_col, out_col=out_col
    )


def bpe_encode_ranked(
    df: DataFrame,
    merges: list[tuple],
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Merge-count-SCALABLE tokenizer application (VERDICT r8 #2): the
    exact semantics of `bpe_encode` — each rule of the RANKED merge
    table applied once, in training order, leftmost-first
    non-overlapping (`_merge_fold`'s (arr, carry) contract) — but as
    ONE Arrow `mapInPandas` pass over the corpus instead of one fold
    stage per rule. Plan depth, codegen size, and checkpoint count are
    CONSTANT in |merges|: the ranked table ships to executors as a
    broadcast list, and each document is encoded in a single kernel
    call. This is the sanctioned Python boundary (PLANS.md invariant
    3, the DSP-kernel precedent): `bpe_encode`'s literal-fold form is
    the right shape at the 5-rule phrase tables the suite trains, but
    a production 10^4–10^5-rule tokenizer table would need thousands
    of fold stages and localCheckpoint materializations — here it is
    one stage at any table size.

    Per-document cost: a token-membership skip set prunes rules whose
    lhs/rhs cannot occur (O(1) per rule), so work is
    O(|rules| set-probes + |applicable| token-scans) — encode time is
    ~flat in merge-table size when most rules don't fire (the
    production regime; SCALING.md carries the measured 5-vs-500-rule
    row). Accepts (lhs, rhs) or the trainer's (round, lhs, rhs, n)
    tuples. Returns (id_col, n_tokens_raw, out_col) exactly like
    `bpe_encode`; the two encoders are asserted token-identical in
    tests and value-checked against the same delimiter-guarded DuckDB
    replay (reference tokenizer parity: Sennrich et al. 2016 encode
    loop; reference repo has no tokenizer — LLM-pipeline extension)."""
    from pyspark.sql import types as T

    rules = [
        ((m[1], m[2]) if len(m) >= 4 else (m[0], m[1])) for m in merges
    ]
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(rules)

    src = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), _norm_tokens(text_col).alias("__toks")
    )
    id_field = src.schema[id_col]
    out_schema = T.StructType(
        [
            id_field,
            T.StructField("n_tokens_raw", T.LongType(), False),
            T.StructField(out_col, T.ArrayType(T.StringType()), False),
        ]
    )

    def encode_batches(batches):
        import pandas as pd

        rules_l = bc.value
        for pdf in batches:
            ids, raws, outs = [], [], []
            for did, arr in zip(pdf[id_col], pdf["__toks"]):
                toks = list(arr)
                raws.append(len(toks))
                ids.append(did)
                outs.append(_apply_rules_py(toks, rules_l))
            yield pd.DataFrame(
                {id_col: ids, "n_tokens_raw": raws, out_col: outs}
            )

    return src.mapInPandas(encode_batches, schema=out_schema)


def chunk_centrality(
    df: DataFrame,
    chunk_tokens: int = 12,
    damping: float = 0.85,
    iters: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """TextRank-style CHUNK centrality (Mihalcea & Tarau 2004, on
    token-window chunks since this corpus has no sentence marks): per
    document, rank its non-overlapping ``chunk_tokens``-token chunks
    by weighted PageRank over the chunk-similarity graph — edge weight
    |tokens_i ∩ tokens_j| / (|t_i| + |t_j|) — and return each doc's
    TOP chunk. The long-document pruning primitive: keep the most
    REPRESENTATIVE window of each doc instead of the first one (lead
    bias) when a token budget forces truncation.

    Determinism discipline: weights are exact integer ratios; every
    float SUM (out-weight normalizers, per-iteration contributions) is
    9-dp-rounded then decimal-accumulated so partial-agg order cannot
    move the scores; ``iters`` fixed iterations (the PageRank
    precedent — the recurrence unrolls exactly in the oracle).

    Scale shape: chunking is scan-side; the similarity join is an
    inverted-index co-occurrence on (doc, token) — pair volume bounded
    per doc by its own chunk count (never cross-doc); each iteration
    is one keyed join + map-side-combined sum over the edge table.
    """
    from pyspark.sql import Window

    from time_series_data_trimmer_spark.functions.rounding import rd

    ch = chunk_documents(
        df, chunk_tokens=chunk_tokens, overlap=0, id_col=id_col,
        text_col=text_col,
    )

    # r13 (guide §2.4): toks feeds sizes + both self-join sides, and
    # the per-iteration pr chain embeds the whole edge build once per
    # downstream reference — the fully lazy form re-ran the
    # chunk+tokenize scan ~5×. Materialize the narrow rows once.
    # NOTE (r14 checkpoint policy, VERDICT r13 #6): this snapshot is
    # O(corpus tokens) — unbounded. Justification: 5 consumers × a
    # chunk+tokenize scan vs one narrow (id, cid, tok) snapshot;
    # losing an executor's blocks fails the job (localCheckpoint has
    # no lineage), which a retry absorbs. On a real cluster, point
    # this one at a reliable checkpoint dir (sc.setCheckpointDir +
    # .checkpoint) if the job-restart cost exceeds the snapshot cost.
    toks = ch.select(
        F.col(id_col),
        F.col("chunk_id").alias("__cid"),
        F.explode(
            F.array_distinct(
                F.filter(
                    F.split(F.col("chunk_text"), " "),
                    lambda x: F.length(x) > 0,
                )
            )
        ).alias("__tok"),
    ).localCheckpoint(eager=False)
    sizes = toks.groupBy(id_col, "__cid").agg(
        F.count(F.lit(1)).alias("__sz")
    )
    a = toks.select(
        F.col(id_col), F.col("__cid").alias("__i"), F.col("__tok")
    )
    b = toks.select(
        F.col(id_col), F.col("__cid").alias("__j"), F.col("__tok")
    )
    ov = (
        a.join(b.hint("shuffle_hash"), [id_col, "__tok"])
        .filter(F.col("__i") != F.col("__j"))
        .groupBy(id_col, "__i", "__j")
        .agg(F.count(F.lit(1)).alias("__ov"))
    )
    sz_i = sizes.select(
        F.col(id_col), F.col("__cid").alias("__i"), F.col("__sz").alias("__szi")
    )
    sz_j = sizes.select(
        F.col(id_col), F.col("__cid").alias("__j"), F.col("__sz").alias("__szj")
    )
    edges = (
        ov.join(sz_i.hint("shuffle_hash"), [id_col, "__i"])
        .join(sz_j.hint("shuffle_hash"), [id_col, "__j"])
        .select(
            F.col(id_col), "__i", "__j",
            rd(
                F.col("__ov").cast("double")
                / (F.col("__szi") + F.col("__szj")).cast("double"),
                9,
            ).alias("__w"),
        )
    )
    wsum = edges.groupBy(id_col, F.col("__j").alias("__src")).agg(
        F.sum(F.col("__w").cast("decimal(38,9)")).cast("double").alias("__ws")
    )
    nodes = ch.select(F.col(id_col), F.col("chunk_id").alias("__cid"))
    nper = nodes.groupBy(id_col).agg(F.count(F.lit(1)).alias("__ns"))
    d = float(damping)
    pr = nodes.join(F.broadcast(nper), id_col).select(
        F.col(id_col), "__cid",
        (F.lit(1.0) / F.col("__ns").cast("double")).alias("__pr"),
        "__ns",
    )
    # transition weight w_ji / wsum_j, fixed across iterations
    # r13 (guide §2.4): trans is re-joined every iteration (and each
    # instance re-derives edges→wsum) — checkpoint it once.
    trans = (
        edges.join(
            wsum.withColumnRenamed("__src", "__j").hint("shuffle_hash"),
            [id_col, "__j"],
        ).select(
            F.col(id_col), "__i", "__j",
            (F.col("__w") / F.col("__ws")).alias("__t"),
        )
    ).localCheckpoint(eager=False)
    for _ in range(int(iters)):
        contrib = (
            trans.join(
                pr.select(
                    F.col(id_col), F.col("__cid").alias("__j"),
                    F.col("__pr").alias("__prj"),
                ).hint("shuffle_hash"),
                [id_col, "__j"],
            )
            .groupBy(id_col, F.col("__i").alias("__cid"))
            .agg(
                F.sum(
                    rd(F.col("__t") * F.col("__prj"), 9).cast("decimal(38,9)")
                )
                .cast("double")
                .alias("__c")
            )
        )
        pr = (
            pr.join(contrib.hint("shuffle_hash"), [id_col, "__cid"], "left")
            .select(
                F.col(id_col), "__cid",
                rd(
                    (F.lit(1.0) - F.lit(d)) / F.col("__ns").cast("double")
                    + F.lit(d) * F.coalesce(F.col("__c"), F.lit(0.0)),
                    9,
                ).alias("__pr"),
                "__ns",
            )
        )
    wtop = Window.partitionBy(id_col).orderBy(
        F.col("__pr").desc(), F.col("__cid").asc()
    )
    return (
        pr.withColumn("__rn", F.row_number().over(wtop))
        .filter(F.col("__rn") == 1)
        .select(
            F.col(id_col),
            F.col("__cid").cast("int").alias("top_chunk_id"),
            F.col("__ns").cast("long").alias("n_chunks"),
            rd(F.col("__pr"), 6).alias("centrality"),
        )
    )


#: fixed literal stopword list for RAKE phrase boundaries — shared
#: verbatim by the DuckDB oracle (engineering constant, not learned).
RAKE_STOPWORDS: tuple[str, ...] = (
    "the", "and", "of", "to", "is", "in", "that", "it", "a", "an",
    "on", "at", "for", "with", "as", "was", "are", "be", "this",
    "by", "from", "or", "but", "not", "they", "he", "she", "we",
    "you", "i", "his", "her", "its", "their", "has", "have", "had",
)

#: RAKE candidate phrases longer than this are boilerplate, not
#: keywords (Rose et al. 2010 convention).
RAKE_MAX_PHRASE = 4


def rake_keywords(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """RAKE keyword candidates (Rose et al. 2010): per document, the
    candidate phrases (maximal runs of consecutive non-stopword
    tokens, capped at ``RAKE_MAX_PHRASE`` words) scored by
    Σ_{w ∈ phrase} deg(w)/freq(w), where freq(w) counts w's candidate
    occurrences IN THIS DOCUMENT and deg(w) sums the lengths of this
    document's phrases containing w — the classic degree/frequency
    ratio that favors words living in longer collocations. The
    document-keyword primitive (index terms, dataset cards, topic
    labels) that needs no training and no corpus statistics.

    Per-document math only, so everything is bounded by doc length:
    one normalized-token scan, phrase segmentation as gaps-and-islands
    (running stopword count per doc — keyed window), one (doc, word)
    aggregation, one keyed phrase-score sum. Word scores are exact
    integer ratios (deg/freq), 6-dp rounded then decimal-summed per
    phrase — engine-exact. Returns (id_col, phrase, n_words, score),
    all candidates (consumers take their own top-k).
    """
    from pyspark.sql import Window

    from time_series_data_trimmer_spark.functions.rounding import rd

    toks = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        F.posexplode(_norm_tokens(text_col)).alias("__pos", "__w"),
    )
    is_stop = F.col("__w").isin(*RAKE_STOPWORDS)
    wdoc = Window.partitionBy(id_col).orderBy("__pos")
    marked = toks.select(
        F.col(id_col),
        "__pos",
        "__w",
        F.sum(F.when(is_stop, 1).otherwise(0)).over(wdoc).alias("__isl"),
        is_stop.alias("__stop"),
    ).filter(~F.col("__stop"))
    phrases = (
        marked.groupBy(id_col, "__isl")
        .agg(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct(F.col("__pos"), F.col("__w")))
                ),
                lambda s: s["__w"],
            ).alias("__ws")
        )
        .filter(F.size("__ws") <= RAKE_MAX_PHRASE)
        .select(
            F.col(id_col),
            F.col("__isl"),
            F.concat_ws(" ", F.col("__ws")).alias("phrase"),
            F.size("__ws").alias("n_words"),
        )
    )
    words = phrases.select(
        F.col(id_col), "__isl", "n_words", F.explode(F.split("phrase", " ")).alias("__w")
    )
    stats = words.groupBy(id_col, "__w").agg(
        F.count(F.lit(1)).alias("__freq"),
        F.sum("n_words").alias("__deg"),
    )
    scored_words = words.join(stats.hint("shuffle_hash"), [id_col, "__w"]).select(
        F.col(id_col),
        "__isl",
        rd(
            F.col("__deg").cast("double") / F.col("__freq").cast("double"), 6
        ).alias("__ws_score"),
    )
    scores = scored_words.groupBy(id_col, "__isl").agg(
        rd(
            F.sum(F.col("__ws_score").cast("decimal(38,6)")).cast("double"), 6
        ).alias("score")
    )
    return phrases.join(scores.hint("shuffle_hash"), [id_col, "__isl"]).select(
        id_col, "phrase", "n_words", "score"
    )


def bm25_prf_topk(
    df: DataFrame,
    query_terms: list[str],
    k: int = 20,
    fb_docs: int = 5,
    fb_terms: int = 3,
    beta: float = 0.5,
    k1: float = 1.2,
    b: float = 0.75,
    min_term_len: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """BM25 with PSEUDO-RELEVANCE FEEDBACK (Rocchio-style query
    expansion): run `bm25_topk` for the original query, treat its top
    ``fb_docs`` documents as relevant, pick the ``fb_terms`` strongest
    new terms from them (feedback term frequency × the same un-logged
    corpus-rarity ratio BM25 itself uses, ties broken by token), and
    rescore the corpus with the expanded weighted query (original
    terms weight 1, expansion terms weight ``beta``) — the classic
    recall-booster for short queries in eval-set mining / RAG
    retrieval.

    EVERYTHING stays in-plan: the feedback doc-id set, the candidate
    term table, and the expansion pick are DataFrames joined back in
    (each bounded — fb_docs ids, then tokens of fb_docs documents),
    never collected to the driver. Candidate df counts touch only
    corpus tokens that appear in the feedback docs (a broadcast
    semi-join on the scan). Determinism: the round-1 cut orders by the
    6-dp rounded score then id; term picks order by the 9-dp rounded
    expansion score then token; per-term contributions round to 9 dp
    and accumulate in decimal exactly like `bm25_topk`.
    """
    from time_series_data_trimmer_spark.functions.rounding import rd

    spark = df.sparkSession
    # Dedupe up front: duplicate query terms would duplicate rows in the
    # weighted term table below, fanning out the round-2 join and
    # double-counting those terms' scores (bm25_topk itself only isin()s).
    terms = list(dict.fromkeys(str(t) for t in query_terms))

    toks = df.select(
        F.col(id_col), F.explode(F.split(F.trim(F.col(text_col)), " ")).alias("token")
    ).filter(F.length("token") > 0)
    dl = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1)).cast("double")).alias("avgdl"),
    )

    fb = bm25_topk(
        df, terms, k=fb_docs, k1=k1, b=b, id_col=id_col, text_col=text_col
    ).select(id_col)

    cand = (
        toks.join(F.broadcast(fb), id_col)
        .filter(
            (F.length("token") >= min_term_len) & (~F.col("token").isin(terms))
        )
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("fbtf"))
    )
    cdf = (
        toks.join(F.broadcast(cand.select("token")), "token")
        .groupBy("token")
        .agg(F.countDistinct(id_col).alias("doc_freq"))
    )
    rarity = (
        F.col("n_docs").cast("double") - F.col("doc_freq").cast("double") + F.lit(0.5)
    ) / (F.col("doc_freq").cast("double") + F.lit(0.5))
    exp_terms = (
        cand.join(cdf.hint("shuffle_hash"), "token")
        .crossJoin(F.broadcast(stats))
        .select("token", rd(F.col("fbtf").cast("double") * rarity, 9).alias("escore"))
        .orderBy(F.col("escore").desc(), F.col("token").asc())
        .limit(int(fb_terms))
        .select("token", F.lit(float(beta)).alias("w"))
    )
    orig = spark.createDataFrame(
        [(t, 1.0) for t in terms], "token string, w double"
    )
    termw = orig.unionByName(exp_terms)

    tf = (
        toks.join(F.broadcast(termw.select("token")), "token")
        .groupBy(id_col, "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("doc_freq"))
    joined = (
        tf.join(dfreq.hint("shuffle_hash"), "token")
        .join(F.broadcast(termw), "token")
        .join(dl.hint("shuffle_hash"), id_col)
        .crossJoin(F.broadcast(stats))
    )
    idf = (
        F.col("n_docs").cast("double") - F.col("doc_freq").cast("double") + F.lit(0.5)
    ) / (F.col("doc_freq").cast("double") + F.lit(0.5))
    denom = F.col("tf").cast("double") + F.lit(float(k1)) * (
        F.lit(1.0 - float(b))
        + F.lit(float(b)) * F.col("dl").cast("double") / F.col("avgdl")
    )
    term_score = (
        F.col("w") * (idf * (F.col("tf").cast("double") * F.lit(float(k1) + 1.0)) / denom)
    )
    per_doc = (
        joined.select(F.col(id_col), rd(term_score, 9).cast("decimal(38,9)").alias("s"))
        .groupBy(id_col)
        .agg(F.sum("s").alias("s_dec"), F.count(F.lit(1)).alias("n_terms_matched"))
    )
    return (
        per_doc.select(
            F.col(id_col),
            F.col("n_terms_matched"),
            rd(F.col("s_dec").cast("double"), 6).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(int(k))
    )
