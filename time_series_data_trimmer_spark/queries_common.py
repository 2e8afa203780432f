"""Shared helpers for the per-family extension query modules
(split out of the former monolithic queries_ext.py): imports,
SQL fragment constants, and cross-family helper functions, in
their original definition order. ``__all__`` lists every name
(including underscore-prefixed ones) so the family modules can
star-import the full namespace the monolith's blocks saw.

Original monolith docstring:

Extension query registry: TPC-H-style relational queries, corpus
dedup / similarity / text-analysis operators, and a Structured
Streaming tumbling-window aggregation — each with a DuckDB oracle.

Same determinism conventions as queries.py (decimal accumulation for
unordered sums, floor-formula rounding, md5-only hashing).
"""

from __future__ import annotations

import os


from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from time_series_data_trimmer_spark.functions.rounding import rd, sql_rd
from time_series_data_trimmer_spark.operators import aggregates as ag
from time_series_data_trimmer_spark.operators import dedup as dd
from time_series_data_trimmer_spark.operators import edits
from time_series_data_trimmer_spark.operators import sampling as sp
from time_series_data_trimmer_spark.operators import similarity as sim
from time_series_data_trimmer_spark.operators import text as tx
from time_series_data_trimmer_spark.queries import REGISTRY, _events, _table, register

R = sql_rd


def _dsum(term, scale: int = 4):
    """Order-independent SUM: round term, accumulate as exact decimal,
    surface as double."""
    return F.sum(rd(term, scale).cast("decimal(38,6)")).cast("double")


def _sql_dsum(term: str, scale: int = 4) -> str:
    return f"CAST(sum(CAST({sql_rd(term, scale)} AS DECIMAL(38,6))) AS DOUBLE)"


# ---------------------------------------------------------------------------
# Dedup operators over documents
# ---------------------------------------------------------------------------

# grams from coalesce(text, ''): Spark's word_shingles(NULL) yields the
# single "" shingle (concat_ws over a null array), and string_split('')
# reproduces it — NULL-text docs carry [''] in BOTH engines
_SH_SQL = """
    SELECT doc_id,
           list_distinct(CASE WHEN len(w) >= 3
             THEN list_transform(generate_series(1, len(w) - 2),
                                 i -> array_to_string(list_slice(w, i, i + 2), ' '))
             ELSE [array_to_string(w, ' ')] END) AS grams
    FROM (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS w FROM documents)
"""

_SIG_SQL = (
    "SELECT doc_id, ["
    + ", ".join(
        (
            f"list_min(list_transform(grams, x -> substr(md5(x), {(s % 4) * 8 + 1}, 8)))"
            if s < 4
            else f"list_min(list_transform(grams, x -> substr(md5('x' || x), {(s % 4) * 8 + 1}, 8)))"
        )
        for s in range(dd.DEFAULT_NUM_HASHES)
    )
    + "] AS sig FROM shingled"
)


_PREFIX_TAU = 0.2


_SIMHASH_BITS_SQL = "count(*) AS n, " + ", ".join(
    f"sum((h >> {b}) & 1) AS b{b}" for b in range(dd.SIMHASH_BITS)
)
_SIMHASH_FP_SQL = " + ".join(
    f"CASE WHEN 2 * b{b} - n > 0 THEN CAST({2**b} AS BIGINT) ELSE 0 END"
    for b in range(dd.SIMHASH_BITS)
)


# the N-adaptive combinatorial blocking layout, shared verbatim with the
# oracle: m chunks, every (m − h)-subset of chunk indices is a blocking
# key (pigeonhole over Hamming ≤ h) — the SQL enumerates the SAME combos
_SIMHASH_M, _SIMHASH_COMBOS = dd.simhash_chunk_plan(3, n_chunks=6)
_SIMHASH_W = dd.SIMHASH_BITS // _SIMHASH_M
_SIMHASH_COMBO_VALUES = ", ".join(
    "(" + ", ".join(str(x) for x in (ci, *combo)) + ")"
    for ci, combo in enumerate(_SIMHASH_COMBOS)
)
_SIMHASH_COMBO_COLS = ", ".join(f"c{p}" for p in range(len(_SIMHASH_COMBOS[0])))
_SIMHASH_KEY_SQL = " + ".join(
    f"(((simhash >> (cb.c{p} * {_SIMHASH_W})) & {(1 << _SIMHASH_W) - 1}) << {p * _SIMHASH_W})"
    for p in range(len(_SIMHASH_COMBOS[0]))
)


# ---------------------------------------------------------------------------
# Similarity search over embeddings
# ---------------------------------------------------------------------------

_EX_SQL = """
      SELECT vec_id, u['i'] AS i, CAST(u['v'] AS DOUBLE) AS x
      FROM (SELECT vec_id,
                   unnest(list_transform(embedding, (x, i) -> {'v': x, 'i': i})) AS u
            FROM embeddings)
"""

_DOT_TERMS = """
      SELECT e.vec_id,
             sum(CAST({p1} AS DECIMAL(38,9))) AS dxy,
             sum(CAST({p2} AS DECIMAL(38,9))) AS dxx,
             sum(CAST({p3} AS DECIMAL(38,9))) AS dyy
      FROM (SELECT vec_id, u['i'] AS i, CAST(u['v'] AS DOUBLE) AS x
            FROM (SELECT vec_id,
                         unnest(list_transform(embedding, (x, i) -> {{'v': x, 'i': i}})) AS u
                  FROM embeddings)) e
      JOIN (SELECT u['i'] AS i, CAST(u['v'] AS DOUBLE) AS y
            FROM (SELECT unnest(list_transform(qv, (x, i) -> {{'v': x, 'i': i}})) AS u
                  FROM q)) qx
        ON e.i = qx.i
      GROUP BY e.vec_id
""".format(
    p1=sql_rd("e.x * qx.y", 9),
    p2=sql_rd("e.x * e.x", 9),
    p3=sql_rd("qx.y * qx.y", 9),
)


_LSH_Q_BITS = 6  # 2^6 buckets over the probe table


# ---------------------------------------------------------------------------
# Text analysis over documents
# ---------------------------------------------------------------------------


def _occ_sql(word: str) -> str:
    pad = f"' ' || lower(text) || ' '"
    needle = f" {word} "
    return (
        f"(length({pad}) - length(replace({pad}, '{needle}', ''))) / {len(needle)}.0"
    )


def _lang_score_sql(lang: str) -> str:
    return " + ".join(_occ_sql(w) for w in tx.LANG_MARKERS[lang])


_LANG_BEST = "greatest(" + ", ".join(f"s_{lang}" for lang in tx.LANG_MARKERS) + ")"
_LANG_CASE = (
    "CASE WHEN " + _LANG_BEST + " <= 0 THEN 'und' "
    + " ".join(
        f"WHEN s_{lang} = {_LANG_BEST} THEN '{lang}'" for lang in sorted(tx.LANG_MARKERS)
    )
    + " ELSE 'und' END"
)


# ---------------------------------------------------------------------------
# Deterministic sampling / data mixing (training-data pipeline ops):
# membership is a pure function of md5(seed|key) — reproducible across
# reruns, partitionings, and engines, unlike df.sample's per-partition
# RNG. All integer math; the oracles replicate the hash bit-for-bit.
# ---------------------------------------------------------------------------

_SAMPLE_RATE = 0.25
_STRATA_RATES = {"src0": 0.8, "src1": 0.5, "src2": 0.25}
_STRATA_DEFAULT = 0.1
_MIX_BUDGET = 600
_SQL_H = sp.sql_hash_u32("doc_id")
_SQL_NTOK = (
    "CASE WHEN length(trim(text)) = 0 THEN 0 "
    "ELSE len(string_split(trim(text), ' ')) END"
)


_STRATA_CASE = (
    "CASE "
    + " ".join(
        f"WHEN source = '{s}' THEN {int(r * (1 << 32))}"
        for s, r in sorted(_STRATA_RATES.items())
    )
    + f" ELSE {int(_STRATA_DEFAULT * (1 << 32))} END"
)


_MM_FEATS = ", ".join(
    f"('0x' || substr(h{d + 1}, {(k % 4) * 8 + 1}, 8))::BIGINT / 2147483648.0 - 1.0 AS f{k}"
    for k, d in [(k, k // 4) for k in range(16)]
)


def _funnel_oracle_sql(steps: list[str], windows: list[float]) -> str:
    """Generate the chained-native-ASOF DuckDB oracle for an N-step
    funnel — one ``ASOF LEFT JOIN`` per hop, measuring each hop from the
    previous hop's matched time, then the conversion rollup. Generated
    per step count so ANY `funnel(steps, windows)` call is
    oracle-checkable, not just the shapes someone hand-wrote."""
    ctes = [
        f"s0 AS (SELECT user_id, event_id, epoch(ts) AS t_0\n"
        f"        FROM events WHERE event_type = '{steps[0]}')"
    ]
    for i, s in enumerate(steps[1:], start=1):
        ctes.append(
            f"s{i} AS (SELECT user_id, epoch(ts) AS t_{i} FROM events\n"
            f"        WHERE event_type = '{s}' GROUP BY user_id, epoch(ts))"
        )
    prev = "s0"
    for i in range(1, len(steps)):
        ctes.append(
            f"j{i} AS (SELECT {prev}.*, s{i}.t_{i}\n"
            f"        FROM {prev} ASOF LEFT JOIN s{i}\n"
            f"        ON {prev}.user_id = s{i}.user_id"
            f" AND {prev}.t_{i - 1} <= s{i}.t_{i})"
        )
        prev = f"j{i}"
    conds = " AND ".join(
        f"t_{i} IS NOT NULL AND t_{i} - t_{i - 1} <= {float(w)}"
        for i, w in enumerate(windows, start=1)
    )
    return (
        "WITH " + ",\n".join(ctes) + f"""
    SELECT user_id, count(*) AS n_anchors,
           CAST(sum(CASE WHEN {conds} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_converted
    FROM {prev} GROUP BY user_id
    """
    )


_FUNNEL4_STEPS = ["signup", "view", "click", "purchase"]
_FUNNEL4_WINDOWS = [86400.0, 3600.0, 3600.0]


# LSH blocking parameters for the embedding near-dup query. dim=64 is a
# property of the embeddings tables (all SFs); bits/tables trade
# candidate volume vs recall (see operators/similarity.py).
_EMB_DIM, _EMB_BITS, _EMB_TABLES = 64, 8, 6


_DECONTAM_SQL = """
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
      WHERE source <> 'src0' AND text IS NOT NULL
    ),
    tg AS (
      SELECT doc_id, md5(g) AS gd FROM (
        SELECT doc_id, unnest(list_distinct(CASE WHEN len(w) - 3 >= 1
          THEN list_transform(generate_series(1, len(w) - 3),
                              i -> array_to_string(w[i:i+3], ' '))
          ELSE [array_to_string(w, ' ')] END)) AS g
        FROM t)
    ),
    h AS (
      SELECT DISTINCT md5(g) AS gd FROM (
        SELECT unnest(list_distinct(CASE WHEN len(w) - 3 >= 1
          THEN list_transform(generate_series(1, len(w) - 3),
                              i -> array_to_string(w[i:i+3], ' '))
          ELSE [array_to_string(w, ' ')] END)) AS g
        FROM (SELECT string_split(text, ' ') AS w FROM documents
              WHERE source = 'src0' AND text IS NOT NULL))
    )
    SELECT tg.doc_id, count(*) AS n_shared_grams
    FROM tg JOIN h USING (gd)
    GROUP BY tg.doc_id
    HAVING count(*) >= 1
    """


# ---------------------------------------------------------------------------
# substring-level (span) dedup — Lee et al. ACL 2022 granularity
# ---------------------------------------------------------------------------

_SPAN_K = 8


def _span_grams_sql(k: int) -> str:
    """Shared oracle prelude: (doc_id, pos, gd) positional k-gram
    digests, 1-based, mirroring `dd.positional_grams`."""
    return f"""
    toks AS (
      SELECT doc_id, string_split(trim(text), ' ') AS w
      FROM documents WHERE text IS NOT NULL
    ),
    posns AS (
      SELECT doc_id, w, generate_subscripts(w, 1) AS pos
      FROM toks WHERE len(w) >= {k}
    ),
    grams AS (
      SELECT doc_id, pos,
             md5(array_to_string(list_slice(w, pos, pos+{k - 1}), ' ')) AS gd
      FROM posns WHERE pos <= len(w) - {k - 1}
    )"""


_SPAN_ISLANDS_SQL = f"""
    dup AS (SELECT gd FROM grams GROUP BY gd HAVING count(distinct doc_id) >= 2),
    hits AS (
      SELECT g.doc_id, g.pos AS s, g.pos + {_SPAN_K - 1} AS e
      FROM grams g JOIN dup d ON d.gd = g.gd
    ),
    marked AS (
      SELECT doc_id, s, e,
             CASE WHEN s > coalesce(max(e) OVER (
                 PARTITION BY doc_id ORDER BY s, e
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
             THEN 1 ELSE 0 END AS new_island
      FROM hits
    ),
    islands AS (
      SELECT doc_id, s, e,
             sum(new_island) OVER (PARTITION BY doc_id ORDER BY s, e
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM marked
    )"""


# C4/Gopher-style rule filter: SQL mirror of tx.C4_RULES (same order,
# same thresholds — keep in sync).
_C4_FEATS_SQL = f"""
    feats AS (
      SELECT doc_id, text,
             length(text) AS q_n_chars,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(string_split(trim(text), ' ')) END AS q_n_tokens,
             ({" + ".join(f"(length(text) - length(replace(text, '{c}', '')))" for c in ".,;:!?")}) AS punct,
             ({" + ".join(f"(length(text) - length(replace(text, '{c}', '')))" for c in "0123456789")}) AS digits,
             {", ".join(f"{_lang_score_sql(lang)} AS s_{lang}" for lang in tx.LANG_MARKERS)}
      FROM documents
    ),
    ratios AS (
      SELECT doc_id, text, q_n_chars, q_n_tokens,
             CAST(q_n_chars - (q_n_tokens - 1) AS DOUBLE)
               / (CASE WHEN q_n_tokens = 0 THEN 1 ELSE q_n_tokens END) AS q_mean_token_len,
             CAST(punct AS DOUBLE) / (CASE WHEN q_n_chars = 0 THEN 1 ELSE q_n_chars END) AS q_punct_ratio,
             CAST(digits AS DOUBLE) / (CASE WHEN q_n_chars = 0 THEN 1 ELSE q_n_chars END) AS q_digit_ratio,
             (s_en) / (CASE WHEN q_n_tokens = 0 THEN 1 ELSE q_n_tokens END) AS q_stopword_ratio,
             {_LANG_CASE} AS lang_pred
      FROM feats
    )"""

_C4_RULES_SQL = [
    ("nonnull_text", "text IS NOT NULL"),
    ("min_tokens", "q_n_tokens >= 10"),
    ("max_tokens", "q_n_tokens <= 20000"),
    ("mean_token_len", "q_mean_token_len >= 2.0 AND q_mean_token_len <= 12.0"),
    ("digit_ratio", "q_digit_ratio <= 0.15"),
    ("punct_ratio", "q_punct_ratio <= 0.15"),
    ("stopword_ratio", "q_stopword_ratio >= 0.01"),
    ("lang_en", "lang_pred = 'en'"),
]

_C4_CUM = [
    " AND ".join(f"({c})" for _, c in _C4_RULES_SQL[: i + 1])
    for i in range(len(_C4_RULES_SQL))
]


_EMB_CLUSTER_TAU = 0.4


_REP_WS = """
    w AS (
      SELECT doc_id, list_filter(string_split(trim(text), ' '), x -> length(x) > 0) AS ws
      FROM documents WHERE text IS NOT NULL
    ),
    s AS (
      SELECT doc_id, ws, len(ws) AS n,
             list_aggregate(list_transform(ws, x -> length(x)), 'sum') AS chars,
             len(list_distinct(ws)) AS nd
      FROM w WHERE len(ws) > 0
    ),
    toks AS (SELECT doc_id, unnest(ws) AS tok FROM s),
    tc AS (SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY 1, 2),
    topu AS (
      SELECT doc_id, tok, c, c * length(tok) AS mass,
             row_number() OVER (
               PARTITION BY doc_id ORDER BY c * length(tok) DESC, tok ASC
             ) AS rn
      FROM tc
    )
"""


_GOPHER_STOP_SQL = " + ".join(
    f"(length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' {w} ', ''))) / {len(w) + 2}.0"
    for w in tx.GOPHER_STOPWORDS
)


def _jl_oracle_sql(in_dim: int, out_dim: int, seed: str = "tsdt|jl") -> str:
    signs = sim.jl_sign_matrix(in_dim, out_dim, seed)
    inv = repr(1.0 / float(out_dim) ** 0.5)
    term = R("CAST(x AS DOUBLE)", 9)
    comps = ",\n       ".join(
        "{'k': %d, 'y': CAST(list_aggregate(list_transform(embedding, (x, j) -> "
        "CAST((%s) * ([%s][j]) AS DECIMAL(38,9))), 'sum') AS DOUBLE) * %s}"
        % (k, term, ", ".join(str(s) for s in signs[k]), inv)
        for k in range(out_dim)
    )
    return f"""
    SELECT vec_id, CAST(u.k AS INT) AS k, {R("u.y", 6)} AS y
    FROM (
      SELECT vec_id, unnest([
       {comps}
      ]) AS u
      FROM embeddings
    )
    """


def _pca_oracle_sql(rounds: int = 3, v0: str = "0.125") -> str:
    cov_expr = R(
        "(CAST(pr.sp AS DOUBLE) / CAST(pr.n AS DOUBLE)) - ((mi.sm / CAST(pr.n AS DOUBLE)) * (mj.sm / CAST(pr.n AS DOUBLE)))",
        6,
    )
    rounds_sql = ""
    prev = "v0"
    for r in range(1, rounds + 1):
        rounds_sql += f""",
    w{r} AS (
      SELECT f.i AS idx,
             CAST(sum(CAST({R("f.cov * v.val", 12)} AS DECIMAL(38,12))) AS DOUBLE) AS w
      FROM fm f JOIN {prev} v ON f.j = v.idx GROUP BY f.i
    ),
    n{r} AS (
      SELECT sqrt(CAST(sum(CAST({R("w * w", 12)} AS DECIMAL(38,12))) AS DOUBLE)) AS nm FROM w{r}
    ),
    v{r} AS (SELECT idx, {R("w / nm", 9)} AS val FROM w{r}, n{r})"""
        prev = f"v{r}"
    return f"""
    WITH t AS (
      SELECT vec_id,
             unnest(list_transform(embedding,
               (x, i) -> {{'i': i - 1, 'x': CAST(x AS DOUBLE)}})) AS u
      FROM embeddings
    ),
    e AS (SELECT vec_id, u.i AS i, u.x AS x FROM t),
    pr AS (
      SELECT a.i AS i, b.i AS j,
             sum(CAST({R("a.x * b.x", 9)} AS DECIMAL(38,9))) AS sp,
             count(*) AS n
      FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.i <= b.i
      GROUP BY 1, 2
    ),
    m AS (
      SELECT i, CAST(sum(CAST({R("x", 9)} AS DECIMAL(38,9))) AS DOUBLE) AS sm
      FROM e GROUP BY i
    ),
    cv AS (
      SELECT pr.i AS i, pr.j AS j, {cov_expr} AS cov
      FROM pr JOIN m mi ON pr.i = mi.i JOIN m mj ON pr.j = mj.i
    ),
    fm AS (
      SELECT i, j, cov FROM cv
      UNION ALL
      SELECT j AS i, i AS j, cov FROM cv WHERE i <> j
    ),
    v0 AS (SELECT DISTINCT i AS idx, CAST({v0} AS DOUBLE) AS val FROM fm){rounds_sql}
    SELECT CAST(v.idx AS INT) AS i, v.val AS v, {R("n.nm", 6)} AS eigenvalue
    FROM v{rounds} v, n{rounds} n
    """


# ---------------------------------------------------------------------------
# r6: SemDeDup — IVF-cell-blocked semantic dedup
# ---------------------------------------------------------------------------

_SEMDEDUP_TAU, _SEMDEDUP_K = 0.4, 16


def _semdedup_k(n: int) -> int:
    """N-adaptive cell count: k = max(16, ceil(sqrt(N))).

    Cells ∝ √N bounds BOTH the assignment work (N·k = N^1.5) and the
    expected within-cell pair volume (Σ|C|² ≈ N²/k = N^1.5) — the
    FAISS/SemDeDup sizing rule. A FIXED k makes pair volume quadratic
    (cell size ∝ N), measured 28.8× at 10× data in SCALING.md; the
    adaptive form is the scale path and is what this registry benches.
    """
    import math

    return max(16, int(math.ceil(math.sqrt(max(n, 1)))))


#: shared SemDeDup CTE chain (cells → assignment → norms → within-cell
#: pair dots); callers append their own decision CTEs on top of
#: ``pdots``/``norms``/``assigned``. Factored so the registered
#: survivor query and the τ-sensitivity sweep can never drift.
_SEMDEDUP_CTE_SQL = f"""ex AS ({_EX_SQL}),
    kk AS (
      SELECT greatest(16, CAST(ceil(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT)) AS k
      FROM embeddings
    ),
    ord AS (
      SELECT vec_id,
             row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1 AS cid
      FROM embeddings
      QUALIFY cid <= (SELECT k FROM kk) - 1
    ),
    cex AS (SELECT o.cid, e.i, e.x FROM ord o JOIN ex e ON e.vec_id = o.vec_id),
    dists AS (
      SELECT e.vec_id, c.cid,
             sum(CAST({sql_rd("(e.x - c.x) * (e.x - c.x)", 9)} AS DECIMAL(38,9))) AS d
      FROM ex e JOIN cex c ON c.i = e.i
      GROUP BY e.vec_id, c.cid
    ),
    assigned AS (
      SELECT vec_id, cid FROM dists
      QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) = 1
    ),
    norms AS (
      SELECT vec_id, sqrt(CAST(sum(CAST({sql_rd("x * x", 9)} AS DECIMAL(38,9))) AS DOUBLE)) AS nrm
      FROM ex GROUP BY vec_id
    ),
    pdots AS (
      SELECT aa.vec_id AS id_a, bb.vec_id AS id_b,
             sum(CAST({sql_rd("ea.x * eb.x", 9)} AS DECIMAL(38,9))) AS dxy
      FROM assigned aa
      JOIN assigned bb ON aa.cid = bb.cid AND aa.vec_id < bb.vec_id
      JOIN ex ea ON ea.vec_id = aa.vec_id
      JOIN ex eb ON eb.vec_id = bb.vec_id AND eb.i = ea.i
      GROUP BY aa.vec_id, bb.vec_id
    )"""


_BM25_TERMS = ["spark", "window", "join"]
_BM25_K, _BM25_K1, _BM25_B = 15, 1.2, 0.75


from time_series_data_trimmer_spark.operators import sketches as sk  # noqa: E402

_KMV_TOKENS_TABLE = """(
      SELECT d.source AS source, t.token AS token
      FROM documents d,
           LATERAL (SELECT unnest(string_split(trim(d.text), ' ')) AS token) t
      WHERE d.text IS NOT NULL AND len(t.token) > 0
    ) toks"""


_CM_D, _CM_W, _CM_SEED = 4, 256, "tsdt|cm"
_CM_ITEMS = ["spark", "window", "join", "data", "the", "zzz-missing"]


def _cm_coord_sql() -> str:
    """The estimate-side (item, r, c) coordinate VALUES literal —
    computed once with the same md5 arithmetic `sk.cm_estimate` uses."""
    import hashlib

    vals = []
    for it in _CM_ITEMS:
        for r in range(_CM_D):
            c = int(hashlib.md5(f"{_CM_SEED}|{r}|{it}".encode()).hexdigest()[:8], 16) % _CM_W
            vals.append(f"('{it}', {r}, {c})")
    return ", ".join(vals)


_CM_CELL_UNION = "\n      UNION ALL ".join(
    f"SELECT source, {r} AS r, "
    f"{sp.sql_hash_u32('token', f'{_CM_SEED}|{r}')} % {_CM_W} AS c FROM toks"
    for r in range(_CM_D)
)


_PROF_SEED = "tsdt|prof"


_QSK_K, _QSK_QS, _QSK_SEED = 32, [0.25, 0.5, 0.9, 0.99], "tsdt|qsk"
_QSK_U = sp.sql_hash_u32("event_id", _QSK_SEED)


from time_series_data_trimmer_spark.operators import intervals as iv  # noqa: E402


_TOPIC_K = 8  # IVF cells == topic clusters


from time_series_data_trimmer_spark.operators import graph as gr  # noqa: E402


_PR_BASE, _PR_D = 0.15000000000000002, 0.85


_DSIR_B = 4096
_DSIR_H = sp.sql_hash_u32("gram", "tsdt|dsir")


_RRF_QUERIES = {
    "q0": {"terms": ("spark", "window", "join"), "vec": 0},
    "q1": {"terms": ("hash", "merge", "sort"), "vec": 1},
}


def _rrf_bm25_cte(qid: str, terms: tuple[str, ...]) -> str:
    in_list = ", ".join(f"'{t}'" for t in terms)
    return f"""
    tf_{qid} AS (
      SELECT doc_id, token, count(*) AS tf
      FROM toks WHERE token IN ({in_list})
      GROUP BY doc_id, token
    ),
    dfreq_{qid} AS (SELECT token, count(*) AS doc_freq FROM tf_{qid} GROUP BY token),
    bscored_{qid} AS (
      SELECT t.doc_id,
             CAST({sql_rd(
                 "((CAST(s.n_docs AS DOUBLE) - CAST(d.doc_freq AS DOUBLE) + 0.5)"
                 " / (CAST(d.doc_freq AS DOUBLE) + 0.5))"
                 " * (CAST(t.tf AS DOUBLE) * 2.2)"
                 " / (CAST(t.tf AS DOUBLE)"
                 "    + 1.2 * (0.25 + 0.75 * CAST(l.dl AS DOUBLE) / s.avgdl))",
                 9,
             )} AS DECIMAL(38,9)) AS s
      FROM tf_{qid} t
      JOIN dfreq_{qid} d ON d.token = t.token
      JOIN dl l ON l.doc_id = t.doc_id
      CROSS JOIN stats s
    ),
    bm_{qid} AS (
      SELECT '{qid}' AS query_id, doc_id, {R("CAST(sum(s) AS DOUBLE)", 6)} AS score
      FROM bscored_{qid} GROUP BY doc_id
      ORDER BY score DESC, doc_id ASC LIMIT 20
    )"""


def _rrf_dense_cte(qid: str, vec: int) -> str:
    return f"""
    q_{qid} AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {vec}),
    dots_{qid} AS (
      SELECT e.vec_id,
             sum(CAST({sql_rd("e.x * CAST(q.qv[e.i] AS DOUBLE)", 9)} AS DECIMAL(38,9))) AS dxy,
             sum(CAST({sql_rd("e.x * e.x", 9)} AS DECIMAL(38,9))) AS dxx,
             sum(CAST({sql_rd("CAST(q.qv[e.i] AS DOUBLE) * CAST(q.qv[e.i] AS DOUBLE)", 9)} AS DECIMAL(38,9))) AS dyy
      FROM ex e CROSS JOIN q_{qid} q
      GROUP BY e.vec_id
    ),
    dn_{qid} AS (
      SELECT '{qid}' AS query_id, vec_id AS doc_id,
             {R("CAST(dxy AS DOUBLE) / (sqrt(CAST(dxx AS DOUBLE)) * sqrt(CAST(dyy AS DOUBLE)))", 6)} AS score
      FROM dots_{qid}
      ORDER BY score DESC, doc_id ASC LIMIT 20
    )"""


#: shared Fellegi-Sunter CTE chain (SNM candidates -> integer-weight
#: ``scored``) — factored so the pair-score query and the golden-record
#: entity rollup score the identical candidate set and can never drift.
_LINKAGE_SCORED_SQL = """base AS (
      SELECT doc_id,
             substr(norm, 1, 32) AS p,
             substr(norm, 1, 4) AS blk
      FROM (
        SELECT doc_id,
               trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
        FROM documents WHERE text IS NOT NULL
      )
      WHERE len(substr(norm, 1, 4)) > 0
    ),
    lagged AS (
      SELECT doc_id AS id_b, p AS pb,
             lag(doc_id, 1) OVER w AS id1, lag(p, 1) OVER w AS pp1,
             lag(doc_id, 2) OVER w AS id2, lag(p, 2) OVER w AS pp2,
             lag(doc_id, 3) OVER w AS id3, lag(p, 3) OVER w AS pp3
      FROM base WINDOW w AS (PARTITION BY blk ORDER BY p ASC, doc_id ASC)
    ),
    raw_pairs AS (
      SELECT id_b, pb, id1 AS id_a, pp1 AS pa FROM lagged WHERE id1 IS NOT NULL
      UNION ALL
      SELECT id_b, pb, id2 AS id_a, pp2 AS pa FROM lagged WHERE id2 IS NOT NULL
      UNION ALL
      SELECT id_b, pb, id3 AS id_a, pp3 AS pa FROM lagged WHERE id3 IS NOT NULL
    ),
    pairs AS (
      SELECT least(id_a, id_b) AS id_a,
             greatest(id_a, id_b) AS id_b,
             CAST(levenshtein(pa, pb) AS INT) AS edit_dist
      FROM raw_pairs
      WHERE levenshtein(pa, pb) <= 5
    ),
    scored AS (
      SELECT p.id_a, p.id_b, p.edit_dist,
             (CASE WHEN da.lang = db.lang THEN 2 ELSE -3 END
              + CASE WHEN da.source = db.source THEN 3 ELSE -2 END
              + CASE WHEN abs(da.n_chars - db.n_chars) <= 16 THEN 2 ELSE -3 END
              + CASE WHEN p.edit_dist <= 2 THEN 6 ELSE -5 END) AS score
      FROM pairs p
      JOIN documents da ON da.doc_id = p.id_a
      JOIN documents db ON db.doc_id = p.id_b
    )
"""


# ---------------------------------------------------------------------------
# r6 fourth wave: scale-grade time-series operators (operators/timeseries.py)
# ---------------------------------------------------------------------------

from time_series_data_trimmer_spark.operators import layout as ly  # noqa: E402


from time_series_data_trimmer_spark.operators import timeseries as ts
from time_series_data_trimmer_spark.sources.events import event_micros

_M4_BUCKET_US = 3_600_000_000  # 1 hour


def _events_us(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events + integer epoch-micros axis ``t_us`` (layout-adaptive)."""
    df = _table(spark, sf_dir, "events")
    return df.withColumn("t_us", event_micros(df))


def _ewma_oracle(depth: int = 16) -> str:
    num = " + ".join(
        f"coalesce(lag(v, {j}) OVER w * {1 << (depth - 1 - j)}, 0)"
        for j in range(depth)
    )
    den = " + ".join(
        f"CASE WHEN lag(v, {j}) OVER w IS NOT NULL THEN {1 << (depth - 1 - j)} ELSE 0 END"
        for j in range(depth)
    )
    return f"""
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS t_us, event_id,
             CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS v
      FROM events
    ),
    s AS (
      SELECT user_id, t_us, event_id,
             {num} AS num, {den} AS den
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t_us ASC, event_id ASC)
    )
    SELECT user_id, t_us, event_id,
           {R("CAST(num AS DOUBLE) / CAST(den AS DOUBLE) / 10000.0", 6)} AS ewma
    FROM s
    """


_CCNET_LM_SQL = f"""
    toks AS (
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
    ),
    perdoc AS (
      SELECT doc_id,
             {R("CAST(sum(CAST(nll AS DECIMAL(38,6))) AS DOUBLE) / count(*)", 6)} AS avg_nll
      FROM scored GROUP BY doc_id
    )
"""


# ---------------------------------------------------------------------------
# CM-sketch join-size estimation (AMS/CM inner product)
# ---------------------------------------------------------------------------

_CMJS_D, _CMJS_W, _CMJS_SEED = 4, 1024, "tsdt|cmjs"


def _cmjs_cells_sql(src: str, group_expr: str) -> str:
    union = "\n      UNION ALL ".join(
        f"SELECT {group_expr} AS g, {r} AS r, "
        f"{sp.sql_hash_u32('user_id', f'{_CMJS_SEED}|{r}')} % {_CMJS_W} AS c "
        f"FROM {src}"
        for r in range(_CMJS_D)
    )
    return f"SELECT g, r, c, count(*) AS cnt FROM ({union}) GROUP BY g, r, c"


# ---------------------------------------------------------------------------
# Systematic PPS weighted sampling
# ---------------------------------------------------------------------------

_PPS_K, _PPS_S, _PPS_SEED = 100, 32, "tsdt|pps"


_TWAP_HOUR_US = 3_600_000_000


# ---------------------------------------------------------------------------
# Document-level co-occurrence lift (PMI's exact-rational core)
# ---------------------------------------------------------------------------

_COOC_MIN_DF, _COOC_MIN_XY = 25, 10


# ---------------------------------------------------------------------------
# Triangle counting over the co-occurrence graph (degree orientation)
# ---------------------------------------------------------------------------

_TRI_BLK_US = 600_000_000  # 10-minute co-occurrence block
_TRI_CAP = 12  # deterministic per-block cap (sorted-neighborhood rule)


_FUNNEL_STAGES = ("view", "click", "purchase")


# ---------------------------------------------------------------------------
# PAA + SAX symbolization (ts.sax_symbols)
# ---------------------------------------------------------------------------

_SAX_W = 16  # rows per PAA segment
_SAX_B = ts.SAX_BREAKPOINTS_4


# ---------------------------------------------------------------------------
# Matryoshka two-tier ANN (prefix-dim prune -> exact full-dim rerank)
# ---------------------------------------------------------------------------

_MAT_PREFIX = 8
_MAT_SHORT = 40
_MAT_K = 10


# ---------------------------------------------------------------------------
# Classical seasonal decomposition (ts.seasonal_decompose_hourly)
# ---------------------------------------------------------------------------

_SD_HOUR_US = 3_600_000_000


# ---------------------------------------------------------------------------
# 1-NN label-agreement audit (sim.knn_label_agreement)
# ---------------------------------------------------------------------------


_KNN_MAX_BITS = 24  # plane pool upper bound for the adaptive rule


def _knn_bits(n: int) -> int:
    """N-adaptive hyperplane count: bits = max(base, ceil(log2 N) - 4)
    -> expected bucket occupancy ~2^4 stays CONSTANT as the corpus
    grows, so candidate volume per table is O(N), not O(N^2 / 2^bits).
    The same derived-from-a-count rule as SemDeDup's k (reproduced in
    the oracle via log2 of the exact count; ceil is ulp-safe because
    log2 of an exact power of two is exact and anything else is far
    from an integer)."""
    import math

    return max(_EMB_BITS, int(math.ceil(math.log2(max(n, 2)))) - 4)


# ---------------------------------------------------------------------------
# Zipf exponent per source (closed-form OLS in log-log space)
# ---------------------------------------------------------------------------

_ZIPF_TOP = 64  # ranks fitted (vocabulary-bounded; full vocab here)


# ---------------------------------------------------------------------------
# Sequential patterns: top session event-type trigrams
# ---------------------------------------------------------------------------

_SEQ_GAP_US = 1_800_000_000  # the repo's standing 30-min session rule
_SEQ_TOPK = 20


# ---------------------------------------------------------------------------
# Storage-encoding advisor (layout.encoding_advisor)
# ---------------------------------------------------------------------------

_ENC_COLS = ("user_id", "event_type", "value")


def _enc_sql_one(col: str) -> str:
    return f"""
      SELECT '{col}' AS "column", count(*) AS n,
             count(DISTINCT {col}) AS ndv, sum(run) AS n_runs
      FROM (
        SELECT {col},
               CASE WHEN lag({col}) OVER w_{col} IS NULL
                         OR NOT ({col} IS NOT DISTINCT FROM lag({col}) OVER w_{col})
                    THEN 1 ELSE 0 END AS run
        FROM e WINDOW w_{col} AS (PARTITION BY user_id ORDER BY us, event_id)
      )
    """


# ---------------------------------------------------------------------------
# Distribution statistics: Spearman rank correlation + chi-square drift
# ---------------------------------------------------------------------------


_SPEARMAN_RHO_SQL = (
    "(n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)"
    " / (sqrt(n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)"
    " * sqrt(n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy))"
)


# ---------------------------------------------------------------------------
# Numeric drift: decile-matched 1-D Wasserstein between month halves
# ---------------------------------------------------------------------------

_W1_SPLIT_US = 1_705_276_800_000_000  # 2024-01-15 00:00:00 UTC


# ---------------------------------------------------------------------------
# Label propagation over the semantic-similarity graph
# ---------------------------------------------------------------------------

_LP_ITERS = 2


# ---------------------------------------------------------------------------
# Hard-negative mining for contrastive training
# ---------------------------------------------------------------------------

_HN_K = 2


# ---------------------------------------------------------------------------
# Sliding-window distinct users from KMV registers
# ---------------------------------------------------------------------------

_SLIDE_W = 24  # 24-hour sliding window
_SLIDE_K = 64


# ---------------------------------------------------------------------------
# As-of join with tolerance (pandas merge_asof parity)
# ---------------------------------------------------------------------------

_ASOF_TOL_S = 86_400.0  # 1-day staleness bound


# ---------------------------------------------------------------------------
# Split-conformal interval width from seasonal-naive residuals
# ---------------------------------------------------------------------------

_CONF_ALPHA_NUM, _CONF_ALPHA_DEN = 1, 10  # alpha = 0.1 as an exact rational


def _sql_var(col: str) -> str:
    """Order-independent variance of a 6-dp column: decimal sums of the
    values and their 12-dp squared terms, one IEEE expression out."""
    s1 = f"CAST(sum(CAST(({col}) AS DECIMAL(38,6))) AS DOUBLE)"
    s2 = f"CAST(sum(CAST({sql_rd(f'({col}) * ({col})', 12)} AS DECIMAL(38,12))) AS DOUBLE)"
    return f"(({s2}) - ({s1}) * ({s1}) / count(*)) / count(*)"


#: shared LSH-blocked exact-cosine candidate RANKING chain (``ranked``:
#: vid, nbr, cos, rk) — factored so the MRR and NDCG retrieval evals
#: rank the identical candidate set and can never drift.
_LSH_RANKED_SQL = f"""ex AS ({_EX_SQL}),
    bitsv AS (
      SELECT greatest({_EMB_BITS},
                      CAST(ceil(log2(CAST(count(*) AS DOUBLE))) AS INTEGER) - 4)
             AS bits
      FROM embeddings
    ),
    planes AS (
      SELECT t.t, b.b, i.i,
             ('0x' || substr(md5('tsdt|t' || t.t || '|' || b.b || '|' || i.i), 1, 8))::BIGINT
               / 2147483648.0 - 1.0 AS w
      FROM generate_series(0, {_KNN_MAX_BITS - 1}) b(b)
      CROSS JOIN bitsv
      JOIN generate_series(0, {_EMB_TABLES - 1}) t(t) ON TRUE
      JOIN generate_series(0, {_EMB_DIM - 1}) i(i) ON TRUE
      WHERE b.b < bitsv.bits
    ),
    pdots AS (
      SELECT e.vec_id, p.t, p.b,
             CAST(sum(CAST({sql_rd("e.x * p.w", 9)} AS DECIMAL(38,9))) AS DOUBLE) AS d
      FROM ex e JOIN planes p ON p.i = e.i - 1
      GROUP BY e.vec_id, p.t, p.b
    ),
    sigs AS (
      SELECT vec_id, t,
             sum(CASE WHEN d > 0 THEN CAST(1 AS BIGINT) << b ELSE 0 END) AS sig
      FROM pdots GROUP BY vec_id, t
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM sigs a JOIN sigs b ON a.t = b.t AND a.sig = b.sig AND a.vec_id < b.vec_id
    ),
    norms AS (
      SELECT vec_id, sqrt(CAST(sum(CAST({sql_rd("x * x", 9)} AS DECIMAL(38,9))) AS DOUBLE)) AS nrm
      FROM ex GROUP BY vec_id
    ),
    scored AS (
      SELECT c.id_a, c.id_b,
             {R("CAST(sum(CAST(" + sql_rd("ea.x * eb.x", 9) + " AS DECIMAL(38,9))) AS DOUBLE) / (max(na.nrm) * max(nb.nrm))", 6)} AS cos
      FROM cand c
      JOIN ex ea ON ea.vec_id = c.id_a
      JOIN ex eb ON eb.vec_id = c.id_b AND eb.i = ea.i
      JOIN norms na ON na.vec_id = c.id_a
      JOIN norms nb ON nb.vec_id = c.id_b
      GROUP BY c.id_a, c.id_b
    ),
    sym AS (
      SELECT id_a AS vid, id_b AS nbr, cos FROM scored
      UNION ALL
      SELECT id_b AS vid, id_a AS nbr, cos FROM scored
    ),
    ranked AS (
      SELECT vid, nbr, cos,
             row_number() OVER (
               PARTITION BY vid ORDER BY cos DESC, nbr ASC
             ) AS rk
      FROM sym
    )"""


_KMV_HOUR_US = 3_600_000_000
_KMV_DAY_US = 86_400_000_000


_EVAL_TAUS = (0.2, 0.5)

#: Shared oracle TAIL for candidate-generator evals. Expects the
#: caller's WITH-chain to have already defined ``sub`` (doc_id, text —
#: the parity-half corpus) and ``pred`` (id_a < id_b candidate pairs);
#: appends the exact τ-Jaccard brute-force truth over ``sub`` and the
#: per-τ TP/FP/FN/precision/recall report.
_EVAL_TRUTH_TAIL_SQL = f"""truth_sh AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(w) >= 3
               THEN list_transform(generate_series(1, len(w) - 2),
                                   i -> array_to_string(list_slice(w, i, i + 2), ' '))
               ELSE [array_to_string(w, ' ')] END) AS grams
      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM sub)
    ),
    jac AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
               / CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS DOUBLE)
               AS j
      FROM truth_sh a JOIN truth_sh b ON a.doc_id < b.doc_id
    ),
    taus AS (SELECT unnest([{", ".join(f"CAST({t} AS DOUBLE)" for t in _EVAL_TAUS)}]) AS tau),
    truth AS (
      SELECT t.tau, j.id_a, j.id_b FROM jac j JOIN taus t ON j.j >= t.tau
    ),
    tp AS (
      SELECT t.tau, count(*) AS tp
      FROM truth t JOIN pred p ON p.id_a = t.id_a AND p.id_b = t.id_b
      GROUP BY t.tau
    ),
    nt AS (SELECT tau, count(*) AS n_truth FROM truth GROUP BY tau),
    np AS (SELECT count(*) AS n_pred FROM pred)
    SELECT taus.tau,
           CAST(coalesce(nt.n_truth, 0) AS BIGINT) AS n_truth,
           CAST(np.n_pred AS BIGINT) AS n_pred,
           CAST(coalesce(tp.tp, 0) AS BIGINT) AS tp,
           CAST(np.n_pred - coalesce(tp.tp, 0) AS BIGINT) AS fp,
           CAST(coalesce(nt.n_truth, 0) - coalesce(tp.tp, 0) AS BIGINT) AS fn,
           {R("CASE WHEN np.n_pred > 0 THEN CAST(coalesce(tp.tp, 0) AS DOUBLE)"
              " / CAST(np.n_pred AS DOUBLE) ELSE 0.0 END", 6)} AS precision_at_tau,
           {R("CASE WHEN coalesce(nt.n_truth, 0) > 0"
              " THEN CAST(coalesce(tp.tp, 0) AS DOUBLE)"
              " / CAST(nt.n_truth AS DOUBLE) ELSE 0.0 END", 6)} AS recall_at_tau
    FROM taus
    LEFT JOIN nt ON nt.tau = taus.tau
    LEFT JOIN tp ON tp.tau = taus.tau
    CROSS JOIN np"""


def _candidate_eval_frame(sub: DataFrame, pred: DataFrame) -> DataFrame:
    """Per-τ TP/FP/FN + precision/recall of a candidate-pair generator
    against exact τ-Jaccard ground truth (`dd.ngram_jaccard_prefix_pairs`
    — zero false negatives by the prefix-filter guarantee) — the shared
    engine behind the LSH and SimHash eval reports. Truth and candidate
    sets live on the same subcorpus; every eval join is (id, id)-keyed
    over bounded pair sets; the only scalar is the 1-row n_pred count
    (sanctioned 1-row-aggregate cross join)."""
    taus = list(_EVAL_TAUS)
    # r13 (guide §2.4): truth feeds two branches (tp join + n_truth)
    # and pred three (tp join, n_pred, and the generator itself is
    # expensive) — the lazy form ran the exact PPJoin truth AND the
    # candidate generator twice each. Checkpoint both bounded pair
    # sets once; every eval branch reads materialized (id, id) rows.
    truth_min = dd.ngram_jaccard_prefix_pairs(
        sub, min_jaccard=min(taus)
    ).localCheckpoint(eager=False)
    pred = pred.localCheckpoint(eager=False)
    tau_rows = F.explode(
        F.array(*[F.lit(float(t)) for t in taus])
    ).alias("tau")
    truth = (
        truth_min.select("id_a", "id_b", "jaccard", tau_rows)
        .filter(F.col("jaccard") >= F.col("tau"))
        .select("tau", "id_a", "id_b")
    )
    tp = (
        truth.join(pred.hint("shuffle_hash"), ["id_a", "id_b"])
        .groupBy("tau")
        .agg(F.count(F.lit(1)).alias("tp"))
    )
    nt = truth.groupBy("tau").agg(F.count(F.lit(1)).alias("n_truth"))
    np_ = pred.agg(F.count(F.lit(1)).alias("n_pred"))
    taus_df = sub.sparkSession.range(1).select(tau_rows)
    out = (
        taus_df.join(nt.hint("shuffle_hash"), "tau", "left")
        .join(tp.hint("shuffle_hash"), "tau", "left")
        .crossJoin(np_)
    )
    ntc = F.coalesce(F.col("n_truth"), F.lit(0))
    tpc = F.coalesce(F.col("tp"), F.lit(0))
    return out.select(
        "tau",
        ntc.cast("long").alias("n_truth"),
        F.col("n_pred").cast("long").alias("n_pred"),
        tpc.cast("long").alias("tp"),
        (F.col("n_pred") - tpc).cast("long").alias("fp"),
        (ntc - tpc).cast("long").alias("fn"),
        rd(
            F.when(F.col("n_pred") > 0, tpc.cast("double") / F.col("n_pred"))
            .otherwise(F.lit(0.0)),
            6,
        ).alias("precision_at_tau"),
        rd(
            F.when(ntc > 0, tpc.cast("double") / ntc.cast("double"))
            .otherwise(F.lit(0.0)),
            6,
        ).alias("recall_at_tau"),
    )


def _sv_cum_hist(ev, keys, pre_counted=False):
    """Cumulative value histogram over ``(keys…, sv)``: one map-side-
    combined count per distinct scaled value plus the running (``cum``)
    and total (``n``) counts per key group — the shared engine for
    exact nearest-rank order statistics WITHOUT a per-row rank window
    (r13, guide §2.2). The old shape sorted every event row inside a
    |key-domain|-partition window (|types| tasks at any core count —
    the straggler profile that inflated the drift family under load);
    here the full-row pass is a combinable groupBy and the only window
    runs over DISTINCT values. Rank r's order statistic is the unique
    bin with ``cum − cnt < r ≤ cum``; a tie group occupies rank span
    (cum−cnt, cum], so min tie rank = cum−cnt+1 and the doubled
    tie-averaged rank = 2·cum − cnt + 1. ``pre_counted=True`` takes an
    already-built (keys…, sv, cnt) histogram instead of raw rows."""
    if pre_counted:
        h = ev
    else:
        h = ev.groupBy(*keys, "sv").agg(F.count(F.lit(1)).alias("cnt"))
    wcum = (
        Window.partitionBy(*keys)
        .orderBy("sv")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy(*keys)
    return h.select(
        *keys,
        "sv",
        "cnt",
        F.sum("cnt").over(wcum).alias("cum"),
        F.sum("cnt").over(wall).alias("n"),
    )


def _pack_efficiency_agg(packed: DataFrame) -> DataFrame:
    """One-row packing audit over a pack-offsets frame (shared by the
    raw-corpus report and the dedup→budget→pack pipeline)."""
    agg = packed.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.sum(
            F.when(F.col("first_seq") < F.col("last_seq"), 1).otherwise(0)
        ).alias("split_docs"),
        F.sum(F.col("last_seq") - F.col("first_seq") + 1).alias("fragments"),
    )
    nseq = F.expr("(n_tokens + 511) DIV 512")
    return agg.select(
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        nseq.cast("long").alias("n_sequences"),
        F.col("split_docs").cast("long").alias("split_docs"),
        rd(F.col("split_docs").cast("double") / F.col("n_docs"), 6).alias(
            "split_frac"
        ),
        F.col("fragments").cast("long").alias("fragments"),
        rd(F.col("fragments").cast("double") / nseq, 6).alias("docs_per_seq"),
        (nseq * 512 - F.col("n_tokens")).cast("long").alias("tail_pad_tokens"),
        rd(F.col("n_tokens").cast("double") / (nseq * 512), 6).alias(
            "utilization"
        ),
    )


#: shared scorer-vs-C4-gate CTE chain (``sc``: doc_id → 6-dp logit;
#: ``surv``: C4 survivor ids) — factored so the calibration diagram and
#: the binned-AUC eval score the identical logit against the identical
#: label and can never drift.
_HLS_VS_C4_SQL = f"""{_C4_FEATS_SQL},
    surv AS (SELECT doc_id FROM ratios WHERE {_C4_CUM[-1]}),
    w AS (
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
    ),
    sc AS (SELECT doc_id, {R("CAST(tot AS DOUBLE) / n", 6)} AS logit FROM s)"""


#: exact S-curve thresholds (1/b)^(1/r) for the three band geometries
#: of an 8-hash signature, computed ONCE in Python and injected as the
#: same literal into both engines (libm pow is 1-ulp engine-specific;
#: a shared literal is not).
_LSH_GEOMETRIES = [
    (8, 1, round((1.0 / 8.0) ** (1.0 / 1.0), 6)),
    (4, 2, round((1.0 / 4.0) ** (1.0 / 2.0), 6)),
    (2, 4, round((1.0 / 2.0) ** (1.0 / 4.0), 6)),
]


def _sql_band_pairs(b: int, r: int) -> str:
    key = " || '|' || ".join(f"sig[b.band * {r} + {k + 1}]" for k in range(r))
    bands = ", ".join(f"({i})" for i in range(b))
    return f"""
      SELECT count(*) AS n FROM (
        SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
        FROM (SELECT doc_id, b.band, md5({key}) AS key
              FROM sig, (VALUES {bands}) AS b(band)) a
        JOIN (SELECT doc_id, b.band, md5({key}) AS key
              FROM sig, (VALUES {bands}) AS b(band)) b2
          ON a.band = b2.band AND a.key = b2.key AND a.doc_id < b2.doc_id
      )"""


_W7D_US = 7 * 24 * 3_600_000_000


_BITS_SWEEP = (6, 8, 10)


_AA_CAP = 50  # per-node neighbor cap for the two-hop expansion


#: (z_{α/2} + z_β)² for α=0.05 two-sided, power 0.8 — a shared Python
#: literal (normal quantiles are not SQL builtins in either engine).
_Z2_80_05 = round((1.959963985 + 0.841621234) ** 2, 9)
_AB_MDE_ABS = 0.5  # absolute minimum detectable effect, value units


_MOTIF_WORD = 4  # symbols per motif word


_EXPORT_SHARDS = 8


_SEMDEDUP_SWEEP_TAUS = (0.5, 0.7, 0.9)


_RECALL_Q = 8  # probe vectors: vec_id 0..7 (deterministic sample)


_NPROBE_SWEEP = (1, 2, 4)


def _nprobe_branch_sql(np_: int) -> str:
    return f"""SELECT {np_} AS nprobe,
           CAST(count(*) AS BIGINT) AS n_hits,
           {R("CAST(count(*) AS DOUBLE) / 50.0", 6)} AS recall_at_10
        FROM (
          SELECT s.query_id, s.vec_id,
                 row_number() OVER (
                   PARTITION BY s.query_id ORDER BY s.cosine DESC, s.vec_id ASC
                 ) AS rn
          FROM scored_all s
          JOIN (SELECT p.query_id, a.vec_id
                FROM (SELECT query_id, cid FROM qdist
                      QUALIFY row_number() OVER (
                        PARTITION BY query_id ORDER BY d, cid) <= {np_}) p
                JOIN assigned a ON a.cid = p.cid) c
            ON c.query_id = s.query_id AND c.vec_id = s.vec_id
        ) pr
        JOIN truth t ON t.query_id = pr.query_id AND t.vec_id = pr.vec_id
        WHERE pr.rn <= 10"""


_LTTB_BUCKET_US = 3_600_000_000


# ---------------------------------------------------------------------------
# r7 wave 30: alignment / spectral / interpolated-asof / prototype pruning
# ---------------------------------------------------------------------------

_XCORR_BUCKET_US, _XCORR_MAX_LAG = 3_600_000_000, 12


_SPECTRAL_PERIODS_US = (86_400_000_000, 604_800_000_000)


_PROTO_K, _PROTO_PRUNE_PCT = 16, 20


_PSI_DECILES = [i / 10.0 for i in range(1, 10)]


# ---------------------------------------------------------------------------
# r7 wave 32: banded DTW channel distance
# ---------------------------------------------------------------------------

_DTW_B, _DTW_L, _DTW_W = 21_600_000_000, 120, 8
_DTW_INF = 1_000_000_000_000_000


# ---------------------------------------------------------------------------
# r7 wave 33: NDCG@k retrieval eval (completes the MRR/recall family)
# ---------------------------------------------------------------------------

_NDCG_K = 10
_NDCG_WS, _NDCG_IDCG = sim.ndcg_weights(_NDCG_K)


# ---------------------------------------------------------------------------
# r7 wave 34: distributed BPE merge trainer
# ---------------------------------------------------------------------------

_BPE_ROUNDS = 5


def _bpe_cte(rounds: int, train_where: str = "") -> str:
    """Unrolled per-round CTE chain replaying the trainer verbatim:
    pair count → deterministic top-1 → corpus rewrite. The rewrite is
    a DELIMITER-GUARDED string replace — tokens joined by '||' and
    wrapped in single '|' ends, so pair (a,b) is the substring
    '|a||b|' and its merge is '|a b|'; occurrences share no characters
    and replace() scans leftmost non-overlapping, which is EXACTLY the
    fold's (arr, carry) semantics (incl. the 'a a a' overlap case:
    first two merge, third survives). Chosen over list_reduce, whose
    DuckDB 1.0 lambda list-aliasing corrupts multi-round folds (see
    the verify skill); tokens are [a-z0-9 ]+ so '|' can never occur
    inside one.

    Returns the ``WITH ...`` prefix ending at ``s{rounds}`` (the fully
    rewritten corpus) and ``m1..m{rounds}`` (the merge table) — shared
    by the trainer, encoder, and real-token packing oracles, which
    append their own final SELECT.

    ``train_where``: extra predicate on the TRAINING corpus (t0) —
    the sample-trained variants restrict t0 to the portable-md5
    Bernoulli sample while encoding the full corpus in their own
    appended CTEs."""
    extra = f" AND ({train_where})" if train_where else ""
    head = f"""t0 AS (
      SELECT doc_id,
             list_filter(string_split(trim(regexp_replace(lower(text),
                 '[^a-z0-9]+', ' ', 'g')), ' '), x -> length(x) > 0) AS toks
      FROM documents WHERE text IS NOT NULL{extra}
    ),
    s0 AS (
      SELECT doc_id, '|' || array_to_string(toks, '||') || '|' AS s FROM t0
    )"""
    parts = [head]
    pair_toks = (
        "list_filter(string_split(trim(s, '|'), '||'), x -> length(x) > 0)"
    )
    for r in range(1, rounds + 1):
        parts.append(f"""p{r} AS (
      SELECT u['a'] AS a, u['b'] AS b, count(*) AS cnt
      FROM (SELECT unnest(list_transform(range(1, len(toks)),
                    i -> {{'a': toks[i], 'b': toks[i + 1]}})) AS u
            FROM (SELECT {pair_toks} AS toks FROM s{r - 1}))
      GROUP BY 1, 2
    ),
    m{r} AS (
      SELECT a, b, cnt FROM p{r}
      QUALIFY row_number() OVER (ORDER BY cnt DESC, a ASC, b ASC) = 1
    ),
    s{r} AS (
      SELECT t.doc_id,
             replace(t.s, '|' || m.a || '||' || m.b || '|',
                          '|' || m.a || ' ' || m.b || '|') AS s
      FROM s{r - 1} t CROSS JOIN m{r} m
    )""")
    return "WITH " + ",\n    ".join(parts)


def _bpe_oracle_sql(rounds: int) -> str:
    """The trainer oracle: the merge table from the shared CTE chain."""
    union = "\n    UNION ALL\n    ".join(
        f"SELECT CAST({r} AS INTEGER) AS round, a AS lhs, b AS rhs, cnt AS n_merges FROM m{r}"
        for r in range(1, rounds + 1)
    )
    return _bpe_cte(rounds) + "\n    " + union


_KANON_BAND = 256


# ---------------------------------------------------------------------------
# r7 wave 37: Matryoshka recall-by-prefix-dims sweep
# ---------------------------------------------------------------------------

_MRL_DIMS = (8, 16, 32, 64)
_MRL_SHORTLIST = 40


def _mrl_dim_cols_sql() -> str:
    return ",\n             ".join(
        f"CAST(sum(CASE WHEN q.i <= {d} THEN CAST({sql_rd('q.x * e.x', 9)} AS DECIMAL(38,9)) END) AS DOUBLE) AS dxy{d},\n"
        f"             CAST(sum(CASE WHEN q.i <= {d} THEN CAST({sql_rd('e.x * e.x', 9)} AS DECIMAL(38,9)) END) AS DOUBLE) AS dxx{d}"
        for d in _MRL_DIMS
    )


# ---------------------------------------------------------------------------
# r7 wave 38: Brown double-smoothing forecast
# ---------------------------------------------------------------------------

_HOLT_D = 8


def _holt_sql() -> str:
    D = _HOLT_D
    den1 = (1 << D) - 1
    num1 = " + ".join(
        f"lag(v, {j}) OVER w * {1 << (D - 1 - j)}" if j else f"v * {1 << (D - 1)}"
        for j in range(D)
    )
    num2 = " + ".join(
        (f"lag(v, {m}) OVER w" if m else "v")
        + f" * {min(m + 1, 2 * D - 1 - m) * (1 << (2 * D - 2 - m))}"
        for m in range(2 * D - 1)
    )
    full = f"lag(v, {2 * D - 2}) OVER w IS NOT NULL"
    d2 = den1 * den1
    return f"""
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS t_us, event_id,
             CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS v
      FROM events
    ),
    s AS (
      SELECT user_id, t_us, event_id,
             CASE WHEN {full} THEN {num1} END AS n1,
             CASE WHEN {full} THEN {num2} END AS n2
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY t_us ASC, event_id ASC)
    )
    SELECT user_id, t_us, event_id,
           {R(f"CAST(n1 AS DOUBLE) / {float(den1)} / 10000.0", 6)} AS s1,
           {R(f"CAST(n2 AS DOUBLE) / {float(d2)} / 10000.0", 6)} AS s2,
           {R(f"CAST(3 * n1 * {den1} - 2 * n2 AS DOUBLE) / {float(d2)} / 10000.0", 6)}
             AS forecast_next
    FROM s
    """


# ---------------------------------------------------------------------------
# r7 wave 39: sketch accuracy report
# ---------------------------------------------------------------------------

_QERR_K = 32
_QERR_QS = (0.5, 0.9)


# ---------------------------------------------------------------------------
# r7 wave 42: TextRank chunk centrality
# ---------------------------------------------------------------------------

_CENT_C = 12  # chunk tokens, no overlap
_CENT_D = 0.85


def _cent_iter_sql(prev: str, out_c: str, out_pr: str) -> str:
    return f"""{out_c} AS (
      SELECT t.doc_id, t.i AS cid,
             CAST(sum(CAST({R("t.t * p.pr", 9)} AS DECIMAL(38,9))) AS DOUBLE) AS c
      FROM trans t JOIN {prev} p ON p.doc_id = t.doc_id AND p.cid = t.j
      GROUP BY 1, 2
    ),
    {out_pr} AS (
      SELECT p.doc_id, p.cid,
             {R(f"(1.0 - {_CENT_D}) / p.ns + {_CENT_D} * COALESCE(c.c, 0.0)", 9)} AS pr,
             p.ns
      FROM {prev} p
      LEFT JOIN {out_c} c ON c.doc_id = p.doc_id AND c.cid = p.cid
    )"""


# ---------------------------------------------------------------------------
# r8 wave 1: BPE tokenizer APPLICATION (the missing half of the r7
# trainer, VERDICT r7 #4) — encode the corpus with the learned merges,
# then run the packing pipeline on REAL token counts instead of the
# chars/4 estimate.
# ---------------------------------------------------------------------------

_BPE_PAIR_TOKS = (
    "list_filter(string_split(trim(s, '|'), '||'), x -> length(x) > 0)"
)


# ---------------------------------------------------------------------------
# r8 wave 2: the dedup report family's shared LSH+CC prefix amortized
# (VERDICT r7 #5) — one labeling, every report section.
# ---------------------------------------------------------------------------

def _suite_unpivot_sql() -> str:
    """UNION ALL block normalizing the four report sections to
    (section, k, metric, value) rows; integer metrics only, so DOUBLE
    carries them exactly in both engines."""
    branches = []
    for m in ("n_clusters", "n_docs", "min_size", "max_size"):
        branches.append(
            f"SELECT 'histogram' AS section, CAST(bucket AS VARCHAR) AS k,"
            f" '{m}' AS metric, CAST({m} AS DOUBLE) AS value FROM hb"
        )
    for m in (
        "n_docs", "n_tokens", "n_docs_exact", "n_tokens_exact",
        "n_docs_near", "n_tokens_near",
    ):
        branches.append(
            f"SELECT 'impact', source, '{m}', CAST({m} AS DOUBLE) FROM imp"
        )
    for m in ("n_docs_kept", "n_tokens_kept"):
        branches.append(
            f"SELECT 'budget', source, '{m}', CAST({m} AS DOUBLE) FROM bsum"
        )
    for m in (
        "n_docs", "n_tokens", "n_sequences", "split_docs", "fragments",
        "tail_pad_tokens",
    ):
        branches.append(
            f"SELECT 'pack', '_all', '{m}', CAST({m} AS DOUBLE) FROM pk"
        )
    return "\n    UNION ALL\n    ".join(branches)


# ---------------------------------------------------------------------------
# r8 wave 3: sketch-backed quantile transform (VERDICT r7 #7) — the
# corpus-wide variant of `feature_quantile_transform`, whose exact
# rank windows scale with rows-per-group.
# ---------------------------------------------------------------------------

_QTX_K, _QTX_SEED = 256, "tsdt|qtx"
_QTX_QS = [round(0.1 * i, 1) for i in range(1, 10)]


# ---------------------------------------------------------------------------
# r8 wave 5: packing-length operating points + tokenizer fertility —
# the layout and tokenizer-eval tables a training run is planned from.
# ---------------------------------------------------------------------------

_PACK_LENS = (256, 512, 1024)


# ---------------------------------------------------------------------------
# r8 wave 6: k-core peel bound (graph) + l-diversity audit (privacy)
# ---------------------------------------------------------------------------

_KCORE_KS, _KCORE_ROUNDS = (2, 3, 4), 3


def _kcore_oracle_sql(rounds: int = _KCORE_ROUNDS) -> str:
    """Canon co-occurrence edges (the triangle-count fragment) + an
    unrolled peel per (k, round): degree → keep(deg>=k) → re-filter
    edges, ``rounds`` rounds, then per-k survivor counts unioned.
    Shared by `graph_kcore_bound` (3 rounds — the screen) and
    `graph_kcore_exact` (16 rounds = the Spark loop's cap: past the
    fixpoint each peel round is the identity, so a fixed unroll at
    the cap replays any converged run exactly)."""
    head = f"""d AS (
      SELECT DISTINCT user_id, event_type,
             epoch_us(ts) // {_TRI_BLK_US} AS blk
      FROM events
    ),
    capped AS (
      SELECT user_id, event_type, blk
      FROM (
        SELECT *, row_number() OVER (
                 PARTITION BY event_type, blk ORDER BY user_id
               ) AS rn
        FROM d
      ) WHERE rn <= {_TRI_CAP}
    ),
    canon AS MATERIALIZED (
      SELECT DISTINCT x.user_id AS a, y.user_id AS b
      FROM capped x JOIN capped y
        ON x.event_type = y.event_type AND x.blk = y.blk
       AND x.user_id < y.user_id
    )"""
    parts = [head]
    for k in _KCORE_KS:
        prev = "canon"
        for r in range(1, rounds + 1):
            parts.append(f"""dg{k}_{r} AS (
      SELECT v, count(*) AS deg FROM (
        SELECT a AS v FROM {prev} UNION ALL SELECT b AS v FROM {prev}
      ) GROUP BY v
    ),
    kp{k}_{r} AS (SELECT v FROM dg{k}_{r} WHERE deg >= {k}),
    e{k}_{r} AS MATERIALIZED (
      SELECT e.a, e.b FROM {prev} e
      JOIN kp{k}_{r} x ON x.v = e.a
      JOIN kp{k}_{r} y ON y.v = e.b
    )""")
            prev = f"e{k}_{r}"
    finals = "\n    UNION ALL\n    ".join(
        f"""SELECT CAST({k} AS INTEGER) AS k,
           (SELECT count(*) FROM (SELECT DISTINCT v FROM (
              SELECT a AS v FROM e{k}_{rounds}
              UNION ALL SELECT b AS v FROM e{k}_{rounds})))
             AS n_vertices,
           (SELECT count(*) FROM e{k}_{rounds}) AS n_edges"""
        for k in _KCORE_KS
    )
    return "WITH " + ",\n    ".join(parts) + "\n    " + finals


# ---------------------------------------------------------------------------
# r8 wave 7: chunk-level BM25 retrieval — the RAG-shaped query: rank
# CHUNKS, return each document's best chunk.
# ---------------------------------------------------------------------------

_CHUNK_RET_TERMS = ("spark", "window", "join")
_CHUNK_RET_K = 10
_CHUNK_T, _CHUNK_OV = 32, 8  # chunk_documents defaults; stride = 24


# ---------------------------------------------------------------------------
# r8 wave 8: Poisson bootstrap — the at-scale resampling primitive.
# ---------------------------------------------------------------------------

#: Poisson(1) CDF thresholds scaled to the 32-bit hash space, computed
#: ONCE in Python (PLANS.md invariant 15 — exp(-1) never evaluates at
#: query time in either engine). w = #thresholds the hash clears, cap 6.
_BOOT_B = 32
_BOOT_T = (1580030168, 3160060337, 3950075421, 4213413783, 4279248373,
           4292415291)
_BOOT_SEED = "tsdt|boot"


def _boot_w_sql(u: str) -> str:
    branches = " ".join(
        f"WHEN {u} < {t} THEN {i}" for i, t in enumerate(_BOOT_T)
    )
    return f"CASE {branches} ELSE {len(_BOOT_T)} END"


# ---------------------------------------------------------------------------
# r8 wave 9: BPE suite — train once, every tokenizer report.
# ---------------------------------------------------------------------------


def _bpe_suite_unpivot_sql() -> str:
    branches = [
        f"""SELECT 'merges' AS section, CAST(round AS VARCHAR) AS k,
           lhs || ' + ' || rhs AS metric, CAST(n_merges AS DOUBLE) AS value
    FROM (SELECT CAST({r} AS INTEGER) AS round, a AS lhs, b AS rhs,
                 cnt AS n_merges FROM m{r})"""
        for r in range(1, _BPE_ROUNDS + 1)
    ]
    for m in ("n_docs", "n_words", "n_bpe_tokens"):
        branches.append(
            f"SELECT 'fertility', lang, '{m}', CAST({m} AS DOUBLE) FROM fert"
        )
    branches.append(
        "SELECT 'fertility', lang, 'fertility_e6', "
        "CAST(fertility_e6 AS DOUBLE) FROM fert"
    )
    for m in (
        "n_docs", "n_tokens", "n_sequences", "split_docs", "fragments",
        "tail_pad_tokens",
    ):
        branches.append(
            f"SELECT 'pack', '_all', '{m}', CAST({m} AS DOUBLE) FROM pk"
        )
    return "\n    UNION ALL\n    ".join(branches)


# ---------------------------------------------------------------------------
# r8 wave 11: curriculum shard manifest — the training-ORDER handoff.
# ---------------------------------------------------------------------------

_CURR_P = (0.3333333333333333, 0.6666666666666666)  # invariant 15 literals
_CURR_SEED = "tsdt|curr"


_KCORE_EXACT_CAP = 16


# ---------------------------------------------------------------------------
# r9 wave 5: the recall-curve suite — ONE exact truth, every forfeit
# curve (the dedup_report_suite / text_bpe_suite amortization pattern
# applied to the ANN blocking family).
# ---------------------------------------------------------------------------


def _suite_lsh_branch_sql(b: int) -> str:
    return f"""SELECT 'lsh_bits' AS section, CAST({b} AS INTEGER) AS k,
           CAST(sum(hit) AS BIGINT) AS n_hits,
           CAST(count(*) AS BIGINT) AS n_candidates,
           {R(f"CAST(sum(hit) AS DOUBLE) / ({_RECALL_Q} * 10.0)", 6)} AS recall_at_10
    FROM (
      SELECT CASE WHEN t.qid IS NOT NULL AND pr.rn <= 10 THEN 1 ELSE 0 END AS hit
      FROM (
        SELECT c.qid, c.vec_id,
               row_number() OVER (PARTITION BY c.qid ORDER BY c.c DESC, c.vec_id ASC) AS rn
        FROM cos c
        JOIN sigs sq ON sq.vec_id = c.qid
        JOIN sigs sv ON sv.vec_id = c.vec_id
        WHERE sq.sig % {1 << b} = sv.sig % {1 << b}
      ) pr
      LEFT JOIN truth t ON t.qid = pr.qid AND t.vec_id = pr.vec_id
    )"""


def _suite_ivf_branch_sql(np_: int) -> str:
    return f"""SELECT 'ivf_nprobe' AS section, CAST({np_} AS INTEGER) AS k,
           CAST(sum(hit) AS BIGINT) AS n_hits,
           CAST(count(*) AS BIGINT) AS n_candidates,
           {R(f"CAST(sum(hit) AS DOUBLE) / ({_RECALL_Q} * 10.0)", 6)} AS recall_at_10
    FROM (
      SELECT CASE WHEN t.qid IS NOT NULL AND pr.rn <= 10 THEN 1 ELSE 0 END AS hit
      FROM (
        SELECT c.qid, c.vec_id,
               row_number() OVER (PARTITION BY c.qid ORDER BY c.c DESC, c.vec_id ASC) AS rn
        FROM cos c
        JOIN assigned a ON a.vec_id = c.vec_id
        JOIN (
          SELECT qid, cid FROM qdist
          QUALIFY row_number() OVER (PARTITION BY qid ORDER BY d, cid) <= {np_}
        ) p ON p.qid = c.qid AND p.cid = a.cid
      ) pr
      LEFT JOIN truth t ON t.qid = pr.qid AND t.vec_id = pr.vec_id
    )"""


def _suite_mrl_branch_sql(d: int) -> str:
    return f"""SELECT 'mrl_dim' AS section, CAST({d} AS INTEGER) AS k,
           CAST(count(t.qid) AS BIGINT) AS n_hits,
           CAST(count(*) AS BIGINT) AS n_candidates,
           {R(f"CAST(count(t.qid) AS DOUBLE) / ({_RECALL_Q} * 10.0)", 6)} AS recall_at_10
    FROM (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               row_number() OVER (PARTITION BY qid ORDER BY c DESC, vec_id ASC) AS rn
        FROM mcos WHERE pd = {d}
      ) WHERE rn <= {_MRL_SHORTLIST}
    ) s
    LEFT JOIN truth t ON t.qid = s.qid AND t.vec_id = s.vec_id"""


_SUITE_RECALL_SQL = (
    f"""
    WITH ex AS ({_EX_SQL}),
    qex AS (SELECT vec_id AS qid, i, x FROM ex WHERE vec_id < {_RECALL_Q}),
    norms AS (
      SELECT vec_id,
             sqrt(CAST(sum(CAST({sql_rd("x * x", 9)} AS DECIMAL(38,9))) AS DOUBLE)) AS nrm
      FROM ex GROUP BY vec_id
    ),
    dots AS (
      SELECT q.qid, e.vec_id,
             CAST(sum(CAST({sql_rd("q.x * e.x", 9)} AS DECIMAL(38,9))) AS DOUBLE) AS dxy
      FROM qex q JOIN ex e ON e.i = q.i AND e.vec_id <> q.qid
      GROUP BY q.qid, e.vec_id
    ),
    cos AS (
      SELECT d.qid, d.vec_id,
             {R("d.dxy / (nq.nrm * nv.nrm)", 6)} AS c
      FROM dots d
      JOIN norms nq ON nq.vec_id = d.qid
      JOIN norms nv ON nv.vec_id = d.vec_id
    ),
    truth AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               row_number() OVER (PARTITION BY qid ORDER BY c DESC, vec_id ASC) AS rn
        FROM cos
      ) WHERE rn <= 10
    ),
    planes AS (
      SELECT b.b, i.i,
             ('0x' || substr(md5('tsdt|t0|' || b.b || '|' || i.i), 1, 8))::BIGINT
               / 2147483648.0 - 1.0 AS w
      FROM generate_series(0, {max(_BITS_SWEEP) - 1}) b(b),
           generate_series(0, 63) i(i)
    ),
    pdots AS (
      SELECT e.vec_id, p.b,
             CAST(sum(CAST({sql_rd("e.x * p.w", 9)} AS DECIMAL(38,9))) AS DOUBLE) AS d
      FROM ex e JOIN planes p ON p.i = e.i - 1
      GROUP BY e.vec_id, p.b
    ),
    sigs AS (
      SELECT vec_id,
             sum(CASE WHEN d > 0 THEN CAST(1 AS BIGINT) << b ELSE 0 END) AS sig
      FROM pdots GROUP BY vec_id
    ),
    ord AS (
      SELECT vec_id,
             row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1 AS cid
      FROM embeddings
      QUALIFY cid <= 15
    ),
    cex AS (SELECT o.cid, e.i, e.x FROM ord o JOIN ex e ON e.vec_id = o.vec_id),
    cdists AS (
      SELECT e.vec_id, c.cid,
             sum(CAST({sql_rd("(e.x - c.x) * (e.x - c.x)", 9)} AS DECIMAL(38,9))) AS d
      FROM ex e JOIN cex c ON c.i = e.i
      GROUP BY e.vec_id, c.cid
    ),
    assigned AS (
      SELECT vec_id, cid FROM cdists
      QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) = 1
    ),
    qdist AS (
      SELECT q.qid, c.cid,
             sum(CAST({sql_rd("(q.x - c.x) * (q.x - c.x)", 9)} AS DECIMAL(38,9))) AS d
      FROM qex q JOIN cex c ON c.i = q.i
      GROUP BY q.qid, c.cid
    ),
    qn AS (
      SELECT qid,
             {", ".join(f'''CAST(sum(CASE WHEN i <= {d} THEN CAST({sql_rd("x * x", 9)} AS DECIMAL(38,9)) END) AS DOUBLE) AS qxx{d}''' for d in _MRL_DIMS)}
      FROM qex GROUP BY qid
    ),
    mdots AS (
      SELECT q.qid, e.vec_id,
             {_mrl_dim_cols_sql()}
      FROM qex q JOIN ex e ON e.i = q.i AND e.vec_id <> q.qid
      GROUP BY q.qid, e.vec_id
    ),
    mcos AS (
      {" UNION ALL ".join(
        f'''SELECT {d} AS pd, d.qid, d.vec_id,
               {R(f"d.dxy{d} / (sqrt(n.qxx{d}) * sqrt(d.dxx{d}))", 6)} AS c
        FROM mdots d JOIN qn n ON n.qid = d.qid'''
        for d in _MRL_DIMS)}
    )
    """
    + "\n    UNION ALL\n    ".join(
        [_suite_lsh_branch_sql(b) for b in _BITS_SWEEP]
        + [_suite_ivf_branch_sql(np_) for np_ in _NPROBE_SWEEP]
        + [_suite_mrl_branch_sql(d) for d in _MRL_DIMS]
    )
)


# ---------------------------------------------------------------------------
# r9 wave 8: MMR diversification — the greedy re-rank as a Catalyst
# fold, oracle = the unrolled greedy walk.
# ---------------------------------------------------------------------------

_MMR_SHORT, _MMR_K, _MMR_LAM = 20, 10, 0.7


def _mmr_step_sql(s: int) -> str:
    # every per-step CTE is MATERIALIZED: rem/sel/pick are each read by
    # 2-3 consumers at the next step, and DuckDB re-inlines plain CTEs
    # (3^k scan blowup — "too many open files" at k=10; PLANS.md
    # invariant 17's oracle-side half).
    return f"""ms{s} AS MATERIALIZED (
      SELECT r.qid, r.id, max(pc.c) AS msim
      FROM rem{s - 1} r
      JOIN sel{s - 1} sl ON sl.qid = r.qid
      JOIN paircos pc ON pc.qid = r.qid AND pc.a = r.id AND pc.b = sl.id
      GROUP BY r.qid, r.id
    ),
    sc{s} AS MATERIALIZED (
      SELECT r.qid, r.id, r.rel,
             {R(f"{_MMR_LAM} * r.rel - (1.0 - {_MMR_LAM}) * COALESCE(ms.msim, 0.0)", 6)} AS s
      FROM rem{s - 1} r
      LEFT JOIN ms{s} ms ON ms.qid = r.qid AND ms.id = r.id
    ),
    pick{s} AS MATERIALIZED (
      SELECT qid, id FROM sc{s}
      QUALIFY row_number() OVER (PARTITION BY qid ORDER BY s DESC, id ASC) = 1
    ),
    sel{s} AS MATERIALIZED (
      SELECT qid, id, rank FROM sel{s - 1}
      UNION ALL
      SELECT qid, id, {s} AS rank FROM pick{s}
    ),
    rem{s} AS MATERIALIZED (
      SELECT r.qid, r.id, r.rel FROM rem{s - 1} r
      WHERE NOT EXISTS (
        SELECT 1 FROM pick{s} p WHERE p.qid = r.qid AND p.id = r.id
      )
    )"""


_MMR_SQL = (
    f"""
    WITH ex AS ({_EX_SQL}),
    qex AS (SELECT vec_id AS qid, i, x FROM ex WHERE vec_id < {_RECALL_Q}),
    norms AS (
      SELECT vec_id,
             sqrt(CAST(sum(CAST({sql_rd("x * x", 9)} AS DECIMAL(38,9))) AS DOUBLE)) AS nrm
      FROM ex GROUP BY vec_id
    ),
    dots AS (
      SELECT q.qid, e.vec_id,
             CAST(sum(CAST({sql_rd("q.x * e.x", 9)} AS DECIMAL(38,9))) AS DOUBLE) AS dxy
      FROM qex q JOIN ex e ON e.i = q.i AND e.vec_id <> q.qid
      GROUP BY q.qid, e.vec_id
    ),
    cos AS (
      SELECT d.qid, d.vec_id,
             {R("d.dxy / (nq.nrm * nv.nrm)", 6)} AS c
      FROM dots d
      JOIN norms nq ON nq.vec_id = d.qid
      JOIN norms nv ON nv.vec_id = d.vec_id
    ),
    short AS MATERIALIZED (
      SELECT qid, vec_id, c FROM (
        SELECT qid, vec_id, c,
               row_number() OVER (PARTITION BY qid ORDER BY c DESC, vec_id ASC) AS rn
        FROM cos
      ) WHERE rn <= {_MMR_SHORT}
    ),
    prs AS (
      SELECT s1.qid, s1.vec_id AS a, s2.vec_id AS b
      FROM short s1 JOIN short s2
        ON s1.qid = s2.qid AND s1.vec_id <> s2.vec_id
    ),
    pdots AS (
      SELECT p.qid, p.a, p.b,
             CAST(sum(CAST({sql_rd("ea.x * eb.x", 9)} AS DECIMAL(38,9))) AS DOUBLE) AS dxy
      FROM prs p
      JOIN ex ea ON ea.vec_id = p.a
      JOIN ex eb ON eb.vec_id = p.b AND eb.i = ea.i
      GROUP BY p.qid, p.a, p.b
    ),
    paircos AS MATERIALIZED (
      SELECT d.qid, d.a, d.b,
             {R("d.dxy / (na.nrm * nb.nrm)", 6)} AS c
      FROM pdots d
      JOIN norms na ON na.vec_id = d.a
      JOIN norms nb ON nb.vec_id = d.b
    ),
    sel0 AS MATERIALIZED (SELECT qid, vec_id AS id, 0 AS rank FROM short WHERE 1 = 0),
    rem0 AS MATERIALIZED (SELECT qid, vec_id AS id, c AS rel FROM short),
    """
    + ",\n    ".join(_mmr_step_sql(s) for s in range(1, _MMR_K + 1))
    + f"""
    SELECT qid AS query_id, id AS vec_id, CAST(rank AS INTEGER) AS mmr_rank
    FROM sel{_MMR_K}
    """
)


# ---------------------------------------------------------------------------
# r9 wave 11: RAKE keyword extraction.
# ---------------------------------------------------------------------------

_RAKE_STOP_SQL = ", ".join(f"'{w}'" for w in tx.RAKE_STOPWORDS)


def _kc_sql(k: int = 8) -> str:
    """Unrolled k-center greedy oracle: round r's center = argmax of
    the running min-squared-distance, every distance an exact
    decimal(38,9) sum — the `graph_pagerank` unrolled-recurrence
    discipline applied to farthest-point traversal."""
    dterm = sql_rd("(e.x - c.x) * (e.x - c.x)", 9)
    parts = [
        f"WITH ex AS ({_EX_SQL}),",
        "sd AS (SELECT vec_id FROM embeddings"
        " ORDER BY md5('tsdt|kc|' || CAST(vec_id AS VARCHAR)), vec_id LIMIT 1),",
        "c1 AS (SELECT e.i, e.x FROM ex e JOIN sd ON sd.vec_id = e.vec_id),",
        f"d1 AS (SELECT e.vec_id, sum(CAST({dterm} AS DECIMAL(38,9))) AS dmin"
        " FROM ex e JOIN c1 c ON c.i = e.i GROUP BY e.vec_id),",
    ]
    for r in range(2, k + 1):
        parts.append(
            f"p{r} AS (SELECT vec_id, dmin FROM d{r-1}"
            " ORDER BY dmin DESC, vec_id ASC LIMIT 1),"
        )
        if r < k:
            parts.append(
                f"c{r} AS (SELECT e.i, e.x FROM ex e JOIN p{r} ON p{r}.vec_id = e.vec_id),"
            )
            parts.append(
                f"n{r} AS (SELECT e.vec_id, sum(CAST({dterm} AS DECIMAL(38,9))) AS d"
                f" FROM ex e JOIN c{r} c ON c.i = e.i GROUP BY e.vec_id),"
            )
            parts.append(
                f"d{r} AS (SELECT d.vec_id, least(d.dmin, n.d) AS dmin"
                f" FROM d{r-1} d JOIN n{r} n ON n.vec_id = d.vec_id),"
            )
    sel = [
        "SELECT 1 AS round, sd.vec_id, CAST(NULL AS DOUBLE) AS dist2_to_set FROM sd"
    ]
    for r in range(2, k + 1):
        sel.append(
            f"SELECT {r} AS round, p{r}.vec_id,"
            f" {sql_rd(f'CAST(p{r}.dmin AS DOUBLE)', 6)} AS dist2_to_set FROM p{r}"
        )
    body = "\n    ".join(parts).rstrip(",")
    union = "\n    UNION ALL\n    ".join(sel)
    return f"{body}\n    {union}"


def _markov_stat_sql(rounds: int = 3) -> str:
    """Unrolled π ← normalize(πP) recurrence over the 6-dp transition
    matrix — pagerank's unrolled-recurrence discipline on the
    |types|² chain."""
    head = f"""WITH o AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS nxt
      FROM events
    ),
    c AS (
      SELECT event_type AS src, nxt AS dst, count(*) AS n
      FROM o WHERE nxt IS NOT NULL GROUP BY 1, 2
    ),
    t AS (SELECT src, sum(n) AS tot FROM c GROUP BY src),
    pm AS (
      SELECT c.src, c.dst, {sql_rd("CAST(c.n AS DOUBLE) / CAST(t.tot AS DOUBLE)", 6)} AS p
      FROM c JOIN t ON t.src = c.src
    ),
    ty AS (SELECT DISTINCT event_type AS et FROM events),
    nt AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM ty),
    pi0 AS (SELECT et, {sql_rd("1.0 / nt.n", 12)} AS pi FROM ty CROSS JOIN nt)"""
    parts = [head]
    prev = "pi0"
    for r in range(1, rounds + 1):
        parts.append(
            f""",
    r{r} AS (
      SELECT pm.dst AS et,
             CAST(sum(CAST({sql_rd("pr.pi * pm.p", 12)} AS DECIMAL(38,12))) AS DOUBLE) AS raw
      FROM pm JOIN {prev} pr ON pr.et = pm.src GROUP BY pm.dst
    ),
    s{r} AS (SELECT CAST(sum(CAST({sql_rd("raw", 12)} AS DECIMAL(38,12))) AS DOUBLE) AS s FROM r{r}),
    pi{r} AS (
      SELECT t.et, coalesce({sql_rd("r.raw / s.s", 12)}, 0.0) AS pi
      FROM ty t LEFT JOIN r{r} r ON r.et = t.et CROSS JOIN s{r} s
    )"""
        )
        prev = f"pi{r}"
    parts.append(
        f""",
    emp AS (
      SELECT event_type AS et, count(*) AS n FROM events GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(n) AS DOUBLE) AS n FROM emp)
    SELECT p.et AS event_type,
           {sql_rd("p.pi", 6)} AS stationary_p,
           {sql_rd("CAST(e.n AS DOUBLE) / tot.n", 6)} AS empirical_p,
           {sql_rd(f"p.pi - CAST(e.n AS DOUBLE) / tot.n", 6)} AS delta
    FROM {prev} p JOIN emp e ON e.et = p.et CROSS JOIN tot"""
    )
    return "".join(parts)


def _holt_backtest_sql() -> str:
    """The `_holt_sql` recurrence extended with the NEXT actual value:
    per evaluable row, model error |next − ŷ| vs naive error
    |next − current|, reduced to one MASE-style row."""
    D = _HOLT_D
    den1 = (1 << D) - 1
    num1 = " + ".join(
        f"lag(v, {j}) OVER w * {1 << (D - 1 - j)}" if j else f"v * {1 << (D - 1)}"
        for j in range(D)
    )
    num2 = " + ".join(
        (f"lag(v, {m}) OVER w" if m else "v")
        + f" * {min(m + 1, 2 * D - 1 - m) * (1 << (2 * D - 2 - m))}"
        for m in range(2 * D - 1)
    )
    full = f"lag(v, {2 * D - 2}) OVER w IS NOT NULL"
    d2 = den1 * den1
    fc = sql_rd(f"CAST(3 * n1 * {den1} - 2 * n2 AS DOUBLE) / {float(d2)} / 10000.0", 6)
    em = sql_rd(f"abs(CAST(vnext AS DOUBLE) / 10000.0 - {fc})", 6)
    en = sql_rd("abs(CAST(vnext AS DOUBLE) / 10000.0 - CAST(v AS DOUBLE) / 10000.0)", 6)
    return f"""
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS t_us, event_id,
             CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL
    ),
    s AS (
      SELECT user_id, v,
             lead(v) OVER w AS vnext,
             CASE WHEN {full} THEN {num1} END AS n1,
             CASE WHEN {full} THEN {num2} END AS n2
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY t_us ASC, event_id ASC)
    ),
    ev AS (
      SELECT {em} AS em, {en} AS en
      FROM s WHERE n1 IS NOT NULL AND vnext IS NOT NULL
    ),
    agg AS (
      SELECT count(*) AS n_evals,
             CAST(sum(CAST(em AS DECIMAL(38,6))) AS DOUBLE) AS sm,
             CAST(sum(CAST(en AS DECIMAL(38,6))) AS DOUBLE) AS sn,
             CAST(sum(CASE WHEN em < en THEN 1 ELSE 0 END) AS BIGINT) AS wins
      FROM ev
    )
    SELECT CAST(n_evals AS BIGINT) AS n_evals,
           {sql_rd("sm / n_evals", 6)} AS mae_model,
           {sql_rd("sn / n_evals", 6)} AS mae_naive,
           CASE WHEN sn > 0.0 THEN {sql_rd("sm / sn", 6)} END AS mase_vs_naive,
           {sql_rd("CAST(wins AS DOUBLE) / n_evals", 6)} AS win_rate
    FROM agg
    """


_ILV_N = 120


__all__ = [
    "DataFrame",
    "F",
    "R",
    "REGISTRY",
    "SparkSession",
    "Window",
    "_AA_CAP",
    "_AB_MDE_ABS",
    "_ASOF_TOL_S",
    "_BITS_SWEEP",
    "_BM25_B",
    "_BM25_K",
    "_BM25_K1",
    "_BM25_TERMS",
    "_BOOT_B",
    "_BOOT_SEED",
    "_BOOT_T",
    "_BPE_PAIR_TOKS",
    "_BPE_ROUNDS",
    "_C4_CUM",
    "_C4_FEATS_SQL",
    "_C4_RULES_SQL",
    "_CCNET_LM_SQL",
    "_CENT_C",
    "_CENT_D",
    "_CHUNK_OV",
    "_CHUNK_RET_K",
    "_CHUNK_RET_TERMS",
    "_CHUNK_T",
    "_CMJS_D",
    "_CMJS_SEED",
    "_CMJS_W",
    "_CM_CELL_UNION",
    "_CM_D",
    "_CM_ITEMS",
    "_CM_SEED",
    "_CM_W",
    "_CONF_ALPHA_DEN",
    "_CONF_ALPHA_NUM",
    "_COOC_MIN_DF",
    "_COOC_MIN_XY",
    "_CURR_P",
    "_CURR_SEED",
    "_DECONTAM_SQL",
    "_DOT_TERMS",
    "_DSIR_B",
    "_DSIR_H",
    "_DTW_B",
    "_DTW_INF",
    "_DTW_L",
    "_DTW_W",
    "_EMB_BITS",
    "_EMB_CLUSTER_TAU",
    "_EMB_DIM",
    "_EMB_TABLES",
    "_ENC_COLS",
    "_EVAL_TAUS",
    "_EVAL_TRUTH_TAIL_SQL",
    "_EXPORT_SHARDS",
    "_EX_SQL",
    "_FUNNEL4_STEPS",
    "_FUNNEL4_WINDOWS",
    "_FUNNEL_STAGES",
    "_GOPHER_STOP_SQL",
    "_HLS_VS_C4_SQL",
    "_HN_K",
    "_HOLT_D",
    "_ILV_N",
    "_KANON_BAND",
    "_KCORE_EXACT_CAP",
    "_KCORE_KS",
    "_KCORE_ROUNDS",
    "_KMV_DAY_US",
    "_KMV_HOUR_US",
    "_KMV_TOKENS_TABLE",
    "_KNN_MAX_BITS",
    "_LANG_BEST",
    "_LANG_CASE",
    "_LINKAGE_SCORED_SQL",
    "_LP_ITERS",
    "_LSH_GEOMETRIES",
    "_LSH_Q_BITS",
    "_LSH_RANKED_SQL",
    "_LTTB_BUCKET_US",
    "_M4_BUCKET_US",
    "_MAT_K",
    "_MAT_PREFIX",
    "_MAT_SHORT",
    "_MIX_BUDGET",
    "_MMR_K",
    "_MMR_LAM",
    "_MMR_SHORT",
    "_MMR_SQL",
    "_MM_FEATS",
    "_MOTIF_WORD",
    "_MRL_DIMS",
    "_MRL_SHORTLIST",
    "_NDCG_IDCG",
    "_NDCG_K",
    "_NDCG_WS",
    "_NPROBE_SWEEP",
    "_PACK_LENS",
    "_PPS_K",
    "_PPS_S",
    "_PPS_SEED",
    "_PREFIX_TAU",
    "_PROF_SEED",
    "_PROTO_K",
    "_PROTO_PRUNE_PCT",
    "_PR_BASE",
    "_PR_D",
    "_PSI_DECILES",
    "_QERR_K",
    "_QERR_QS",
    "_QSK_K",
    "_QSK_QS",
    "_QSK_SEED",
    "_QSK_U",
    "_QTX_K",
    "_QTX_QS",
    "_QTX_SEED",
    "_RAKE_STOP_SQL",
    "_RECALL_Q",
    "_REP_WS",
    "_RRF_QUERIES",
    "_SAMPLE_RATE",
    "_SAX_B",
    "_SAX_W",
    "_SD_HOUR_US",
    "_SEMDEDUP_CTE_SQL",
    "_SEMDEDUP_K",
    "_SEMDEDUP_SWEEP_TAUS",
    "_SEMDEDUP_TAU",
    "_SEQ_GAP_US",
    "_SEQ_TOPK",
    "_SH_SQL",
    "_SIG_SQL",
    "_SIMHASH_BITS_SQL",
    "_SIMHASH_COMBOS",
    "_SIMHASH_COMBO_COLS",
    "_SIMHASH_COMBO_VALUES",
    "_SIMHASH_FP_SQL",
    "_SIMHASH_KEY_SQL",
    "_SIMHASH_M",
    "_SIMHASH_W",
    "_SLIDE_K",
    "_SLIDE_W",
    "_SPAN_ISLANDS_SQL",
    "_SPAN_K",
    "_SPEARMAN_RHO_SQL",
    "_SPECTRAL_PERIODS_US",
    "_SQL_H",
    "_SQL_NTOK",
    "_STRATA_CASE",
    "_STRATA_DEFAULT",
    "_STRATA_RATES",
    "_SUITE_RECALL_SQL",
    "_TOPIC_K",
    "_TRI_BLK_US",
    "_TRI_CAP",
    "_TWAP_HOUR_US",
    "_W1_SPLIT_US",
    "_W7D_US",
    "_XCORR_BUCKET_US",
    "_XCORR_MAX_LAG",
    "_Z2_80_05",
    "_ZIPF_TOP",
    "_boot_w_sql",
    "_bpe_cte",
    "_bpe_oracle_sql",
    "_bpe_suite_unpivot_sql",
    "_candidate_eval_frame",
    "_cent_iter_sql",
    "_cm_coord_sql",
    "_cmjs_cells_sql",
    "_dsum",
    "_enc_sql_one",
    "_events",
    "_events_us",
    "_ewma_oracle",
    "_funnel_oracle_sql",
    "_holt_backtest_sql",
    "_holt_sql",
    "_jl_oracle_sql",
    "_kc_sql",
    "_kcore_oracle_sql",
    "_knn_bits",
    "_lang_score_sql",
    "_markov_stat_sql",
    "_mmr_step_sql",
    "_mrl_dim_cols_sql",
    "_nprobe_branch_sql",
    "_occ_sql",
    "_pack_efficiency_agg",
    "_pca_oracle_sql",
    "_rrf_bm25_cte",
    "_rrf_dense_cte",
    "_semdedup_k",
    "_span_grams_sql",
    "_sql_band_pairs",
    "_sql_dsum",
    "_sql_var",
    "_suite_ivf_branch_sql",
    "_suite_lsh_branch_sql",
    "_suite_mrl_branch_sql",
    "_suite_unpivot_sql",
    "_sv_cum_hist",
    "_table",
    "ag",
    "annotations",
    "dd",
    "edits",
    "event_micros",
    "gr",
    "iv",
    "ly",
    "os",
    "rd",
    "register",
    "sim",
    "sk",
    "sp",
    "sql_rd",
    "ts",
    "tx",
]
