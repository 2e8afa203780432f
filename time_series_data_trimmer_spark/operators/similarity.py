"""Similarity search over embedding columns (``array<float>``).

Brute-force cosine top-k as the exact baseline, plus an LSH-bucketed
(random-hyperplane) variant as the 100 TB scale path.

Scale design:

* Brute force broadcasts the (tiny) query vector and computes the dot
  product scan-side with ``zip_with``/``aggregate`` — JVM higher-order
  functions, no Python, no shuffle until the final top-k (which is a
  ``TakeOrdered`` — map-side partial top-k, only k rows per partition
  move).
* The LSH variant assigns each vector to a signed-hyperplane bucket
  signature computed from deterministic md5-seeded pseudo-random
  planes; queries probe only their own bucket (and optionally
  neighbors), turning O(N) scans into O(N/2^bits).
* Deterministic cross-engine dot products (for oracle checks) come
  from exact DECIMAL accumulation of per-position products — float
  summation order never matters.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from time_series_data_trimmer_spark.functions.spread import spread


def _dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product (JVM, no UDF)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def cosine_similarity(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def brute_force_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k against a literal query vector.

    The query vector enters the plan as an array literal (broadcast by
    value); ordering ties break on the id for determinism.
    """
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    scored = df.select(
        F.col(id_col), cosine_similarity(F.col(vec_col), q).alias("cosine")
    )
    return scored.orderBy(F.col("cosine").desc(), F.col(id_col).asc()).limit(k)


def pairwise_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k neighbors for EVERY query row (broadcast the query set,
    rank per query) — the batch form of brute-force ANN."""
    from pyspark.sql import Window

    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    joined = df.crossJoin(F.broadcast(q)).filter(F.col(id_col) != F.col("query_id"))
    scored = joined.select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        cosine_similarity(F.col(vec_col), F.col("qvec")).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


# ---------------------------------------------------------------------------
# LSH (random hyperplane) — the scale path
# ---------------------------------------------------------------------------


def _hyperplanes(dim: int, bits: int, seed: str = "tsdt") -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes from md5(seed|bit|i):
    reproducible across engines and sessions, no RNG state."""
    planes = []
    for b in range(bits):
        row = []
        for i in range(dim):
            h = hashlib.md5(f"{seed}|{b}|{i}".encode()).hexdigest()
            # map 8 hex digits → [-1, 1)
            row.append(int(h[:8], 16) / float(2**31) - 1.0)
        planes.append(row)
    return planes


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Signed-hyperplane signature: bit b = 1 iff vec·plane_b > 0."""
    sig = F.lit(0).cast("long")
    for b, plane in enumerate(planes):
        p = F.array(*[F.lit(x) for x in plane])
        sig = sig + F.when(_dot(vec, p) > 0, F.lit(2**b).cast("long")).otherwise(F.lit(0).cast("long"))
    return sig


def lsh_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: str = "tsdt",
) -> DataFrame:
    """Approximate top-k: score only vectors sharing the query's
    hyperplane bucket. At scale the bucket column is precomputed and
    the table is partitioned by it, so a probe reads one partition."""
    dim = len(query_vec)
    planes = _hyperplanes(dim, bits, seed)
    qsig = 0
    for b, plane in enumerate(planes):
        if sum(float(q) * p for q, p in zip(query_vec, plane)) > 0:
            qsig += 2**b
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    bucketed = df.withColumn("bucket", lsh_bucket(F.col(vec_col), planes))
    return (
        bucketed.filter(F.col("bucket") == qsig)
        .select(F.col(id_col), cosine_similarity(F.col(vec_col), q).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )


# ---------------------------------------------------------------------------
# deterministic (oracle-checkable) scoring
# ---------------------------------------------------------------------------


def decimal_dot(a: Column, b: Column, scale: int = 9) -> Column:
    """Dot product with exact-DECIMAL accumulation: each per-position
    product is rounded to ``scale`` decimals and summed as DECIMAL, so
    the result is bit-identical in any engine regardless of summation
    order. Precision 20 keeps scale 9 through addition ((20,9)+(20,9) →
    (21,9), lossless cast back for |dot| ≪ 10^11); at precision 38 the
    addition would widen to scale 8 and silently round every step."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    terms = F.transform(
        prods,
        lambda p: (F.floor(p * F.lit(float(10**scale)) + F.lit(0.5)) / F.lit(float(10**scale))).cast(
            "decimal(20,9)"
        ),
    )
    return F.aggregate(
        terms,
        F.lit(0).cast("decimal(20,9)"),
        lambda acc, v: (acc + v).cast("decimal(20,9)"),
    ).cast("double")


def decimal_cosine_vs_query(
    df: DataFrame,
    query_vec: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 9,
) -> DataFrame:
    """Cosine vs a query vector via `decimal_dot` — the oracle-compared
    scorer; the float path (`brute_force_topk`) is the production one."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    v = F.col(vec_col)
    return df.select(
        F.col(id_col),
        (decimal_dot(v, q, scale) / (F.sqrt(decimal_dot(v, v, scale)) * F.sqrt(decimal_dot(q, q, scale)))).alias("cosine"),
    )


def topk_similar_pairs(
    df: DataFrame,
    k: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    deterministic: bool = True,
) -> DataFrame:
    """All-pairs embedding-cosine top-k — the EXACTNESS VERIFICATION
    path only. This plans as a BroadcastNestedLoopJoin (non-equi
    condition): O(N²) compares, O(N) broadcast — correct at test SF,
    unusable at scale. The production operator is
    `topk_similar_pairs_blocked` (LSH candidate blocking + exact
    re-rank); use this one on samples to measure the blocked path's
    recall (see tests/test_similarity_blocked.py)."""
    dot = decimal_dot if deterministic else (lambda a, b: _dot(a, b))
    base = df.select(
        F.col(id_col), F.col(vec_col).alias("v"),
        F.sqrt(dot(F.col(vec_col), F.col(vec_col))).alias("nrm"),
    )
    a, b = base.alias("a"), base.alias("b")
    pairs = a.join(b, F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    cos = dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nrm") * F.col("b.nrm"))
    return (
        pairs.select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            cos.alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col("id_a").asc(), F.col("id_b").asc())
        .limit(k)
    )


def _table_planes(dim: int, bits: int, tables: int, seed: str = "tsdt") -> list[list[list[float]]]:
    """``tables`` independent hyperplane families; table t reuses
    `_hyperplanes` with seed ``{seed}|t{t}`` so every weight is
    md5-derivable (and therefore reproducible inside a SQL oracle)."""
    return [_hyperplanes(dim, bits, seed=f"{seed}|t{t}") for t in range(tables)]


def lsh_signatures(
    df: DataFrame,
    dim: int,
    bits: int = 8,
    tables: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: str = "tsdt",
) -> DataFrame:
    """(id, t, sig): per-table ``bits``-bit signed-hyperplane signatures
    (bit b set iff the DECIMAL-exact dot with plane b is > 0 — decimal
    so bucket assignment is bit-identical in any engine).

    Shape: posexplode the vector, broadcast-join a (t, i)-keyed plane
    table with the ``bits`` weights of each table PIVOTED INTO COLUMNS
    (``w_0..w_{bits-1}``), then ONE map-side-combined aggregation with
    ``bits`` decimal sums grouped by (id, t). The r5 bits-pivot
    replaces the earlier (t, b, i, w) long-form join, whose output
    materialized N·dim·tables·bits rows (6.1M at sf0.1) — same
    arithmetic cell count, bits× fewer row objects through codegen
    (measured ~10% on the blocked-pairs query; the FULL tables·bits
    pivot with a single groupBy(id) was tried and is ~15% SLOWER —
    48-wide decimal aggregation buffers cost more than the fan-out
    they save). (A pure expression form — bits·tables `decimal_dot`
    higher-order calls per row — is 5-10× slower: Catalyst neither
    CSEs across HOF lambdas nor codegens decimal HOF folds well; same
    lesson as `dedup.minhash_signatures`.)
    """
    from time_series_data_trimmer_spark.functions.rounding import rd

    planes = _table_planes(dim, bits, tables, seed)
    rows = [
        tuple([t, i] + [planes[t][b][i] for b in range(bits)])
        for t in range(tables)
        for i in range(dim)
    ]
    schema = "t int, i int, " + ", ".join(f"w_{b} double" for b in range(bits))
    pdf = df.sparkSession.createDataFrame(rows, schema)
    ex = spread(df, id_col).select(
        F.col(id_col), F.posexplode(F.col(vec_col)).alias("i", "x")
    )
    x = F.col("x").cast("double")
    d = ex.join(F.broadcast(pdf), "i").groupBy(id_col, "t").agg(
        *[
            F.sum(rd(x * F.col(f"w_{b}"), 9).cast("decimal(20,9)")).alias(f"d{b}")
            for b in range(bits)
        ]
    )
    sig = None
    for b in range(bits):
        bit = F.when(
            F.col(f"d{b}").cast("double") > 0, F.lit(2**b).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        sig = bit if sig is None else sig + bit
    return d.select(F.col(id_col), F.col("t"), sig.alias("sig"))


def lsh_candidate_pairs(
    df: DataFrame,
    dim: int,
    bits: int = 8,
    tables: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: str = "tsdt",
) -> DataFrame:
    """Candidate (id_a < id_b) pairs from multi-table hyperplane LSH.

    A pair is a candidate iff it shares a (table, signature) bucket.
    Bucket pair explosion reuses the minhash-LSH shape: group → sorted
    id list → local combinatorics; only (id, table, sig) longs shuffle,
    vectors never leave the scan side. Candidate volume is tuned by
    ``bits`` (buckets per table = 2^bits; grow bits with log N to keep
    bucket sizes O(1)) and recall by ``tables``.
    """
    tagged = lsh_signatures(df, dim, bits, tables, id_col, vec_col, seed)
    buckets = (
        tagged.groupBy("t", "sig")
        .agg(F.sort_array(F.collect_list(F.col(id_col))).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    pair_arrays = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size("ids")),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    return (
        buckets.select(F.explode(pair_arrays).alias("p"))
        .select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .distinct()
    )


def topk_similar_pairs_blocked(
    df: DataFrame,
    k: int = 20,
    bits: int = 8,
    tables: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: str = "tsdt",
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup at scale: LSH candidate blocking +
    exact (decimal) re-rank — the production replacement for the
    all-pairs `topk_similar_pairs`.

    Plan shape: candidate generation is a groupBy + local pair
    explosion (no join); the re-rank is two equi shuffle-hash joins
    keyed on the ids — no BroadcastNestedLoopJoin, no CartesianProduct,
    nothing broadcast that scales with N. Compare volume is
    Σ_buckets |B|² instead of N²; recall on true near-dups (cosine
    ≳ 0.9) is ≈ 1 − (1 − p^bits)^tables with p = 1 − θ/π (≈ 0.97+ at
    the defaults), measured against the all-pairs path in
    tests/test_similarity_blocked.py.

    Pass ``dim`` (the embedding length) explicitly: array columns carry
    no length in their Spark schema, and sniffing it with ``.first()``
    launches a driver-side job before the main plan even builds (and
    dies on an empty table). The fallback sniff is kept only for ad-hoc
    use.
    """
    if dim is None:
        row = df.select(vec_col).first()
        if row is None or row[0] is None:
            raise ValueError(
                "cannot infer embedding dim from an empty table; pass dim="
            )
        dim = len(row[0])
    cand = lsh_candidate_pairs(df, dim, bits, tables, id_col, vec_col, seed)
    base = df.select(
        F.col(id_col), F.col(vec_col).alias("v"),
        F.sqrt(decimal_dot(F.col(vec_col), F.col(vec_col))).alias("nrm"),
    )
    a = base.select(F.col(id_col).alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na"))
    b = base.select(F.col(id_col).alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb"))
    joined = cand.join(a.hint("shuffle_hash"), "id_a").join(b.hint("shuffle_hash"), "id_b")
    cos = decimal_dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        joined.select("id_a", "id_b", cos.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("id_a").asc(), F.col("id_b").asc())
        .limit(k)
    )


def threshold_similar_pairs_blocked(
    df: DataFrame,
    tau: float = 0.95,
    bits: int = 8,
    tables: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: str = "tsdt",
    dim: int | None = None,
) -> DataFrame:
    """Thresholded variant of `topk_similar_pairs_blocked`: ALL
    candidate pairs with exact cosine >= ``tau`` (no global top-k, no
    sort, no limit) — the edge set semantic dedup needs. Same LSH
    candidate blocking + decimal re-rank plan; output volume is the
    true near-dup pair count within LSH recall, linear-ish in corpus
    size for a fixed dup rate rather than quadratic."""
    if dim is None:
        row = df.select(vec_col).first()
        if row is None or row[0] is None:
            raise ValueError(
                "cannot infer embedding dim from an empty table; pass dim="
            )
        dim = len(row[0])
    cand = lsh_candidate_pairs(df, dim, bits, tables, id_col, vec_col, seed)
    base = df.select(
        F.col(id_col), F.col(vec_col).alias("v"),
        F.sqrt(decimal_dot(F.col(vec_col), F.col(vec_col))).alias("nrm"),
    )
    a = base.select(F.col(id_col).alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na"))
    b = base.select(F.col(id_col).alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb"))
    joined = cand.join(a.hint("shuffle_hash"), "id_a").join(b.hint("shuffle_hash"), "id_b")
    cos = decimal_dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return joined.select("id_a", "id_b", cos.alias("cosine")).filter(
        F.col("cosine") >= F.lit(float(tau))
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) index — the coarse-quantization scale path
# ---------------------------------------------------------------------------


def ivf_centroids(
    df: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Deterministic coarse centroids: the vectors whose md5(id) hashes
    are smallest — a reproducible pseudo-random sample (no RNG state,
    no k-means iterations; at 100 TB you'd refine these with a few
    Lloyd rounds over a sample, the index structure is identical)."""
    picked = (
        df.select(
            F.col(id_col), F.col(vec_col),
            F.md5(F.col(id_col).cast("string")).alias("__h"),
        )
        .orderBy("__h")
        .limit(n_centroids)
        .collect()
    )
    return [(i, [float(x) for x in row[vec_col]]) for i, row in enumerate(picked)]


def _sq_dist_to(vec: Column, center: list[float]) -> Column:
    c = F.array(*[F.lit(float(x)) for x in center])
    return F.aggregate(
        F.zip_with(vec, c, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def ivf_assign(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every vector to its nearest centroid (scan-side argmin over
    the broadcast centroid list). At scale, write the result partitioned
    by ``centroid_id`` — a probe then reads nprobe partitions only.

    argmin via array_min + array_position: an iterative when-chain would
    embed each previous step twice and blow the expression tree up
    exponentially in the centroid count (2^k nodes — observed as an
    analyzer hang at k=16)."""
    dists = F.array(*[_sq_dist_to(F.col(vec_col), center) for _cid, center in centroids])
    best = F.array_min(dists)
    # 1-based first-match position → centroid list index (ties → first)
    idx = (F.array_position(dists, best) - 1).cast("int")
    cid_lookup = F.array(*[F.lit(cid) for cid, _ in centroids])
    return df.select(
        F.col(id_col), F.col(vec_col),
        F.element_at(cid_lookup, idx + 1).alias("centroid_id"),
    )


def ivf_assign_dec(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Oracle-reproducible IVF assignment: DECIMAL-exact (9 dp) squared
    distances via posexplode + broadcast centroid join + one map-side-
    combined aggregation, argmin by row_number with (distance, cid)
    tie-break — bit-identical in any engine. Same shape as
    `lsh_signatures`; vectors never shuffle, the broadcast is the
    bounded k·dim centroid table."""
    from pyspark.sql import Window

    from time_series_data_trimmer_spark.functions.rounding import rd

    rows = [
        (cid, i, float(x)) for cid, vec in centroids for i, x in enumerate(vec)
    ]
    cdf = df.sparkSession.createDataFrame(rows, "cid int, i int, w double")
    ex = spread(df, id_col).select(
        F.col(id_col), F.posexplode(F.col(vec_col)).alias("i", "x")
    )
    diff = F.col("x").cast("double") - F.col("w")
    term = rd(diff * diff, 9).cast("decimal(38,9)")
    d = ex.join(F.broadcast(cdf), "i").groupBy(id_col, "cid").agg(F.sum(term).alias("d"))
    w = Window.partitionBy(id_col).orderBy(F.col("d").asc(), F.col("cid").asc())
    return (
        d.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(F.col(id_col), F.col("cid").alias("centroid_id"))
    )


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    levels: int = 256,
) -> DataFrame:
    """Per-vector scalar quantization to ``levels`` integer codes —
    the int8 storage layout of production vector stores (4× smaller
    scans/shuffles than float32; dequantize as ``lo + q·scale``).

    Codes are ``floor((x − lo)/scale + 0.5)`` with
    ``scale = (hi − lo)/(levels − 1)`` (constant vectors get scale 1 →
    all-zero codes, reconstruction exact) — the repo's floor-formula
    rounding, so codes are bit-identical in any engine. Pure scan-side
    higher-order expressions, zero shuffle.

    Returns (id, qvec, q_lo, q_scale, n_dims) — everything needed to
    dequantize downstream.
    """
    v = F.col(vec_col)
    lo = F.array_min(v).cast("double")
    hi = F.array_max(v).cast("double")
    scale = F.when(hi == lo, F.lit(1.0)).otherwise(
        (hi - lo) / F.lit(float(levels - 1))
    )
    return df.select(
        F.col(id_col),
        F.transform(
            v, lambda x: F.floor((x.cast("double") - lo) / scale + F.lit(0.5)).cast("long")
        ).alias("qvec"),
        lo.alias("q_lo"),
        scale.alias("q_scale"),
        F.size(v).alias("n_dims"),
    )


def quantization_report(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    levels: int = 256,
) -> DataFrame:
    """Quantize + dequantize and report, per vector: the code checksum
    (pins every code exactly), and the max absolute reconstruction
    error — the accuracy audit run before switching a corpus to the
    quantized layout. All IEEE-deterministic, oracle-checkable."""
    from time_series_data_trimmer_spark.functions.rounding import rd

    v = F.col(vec_col)
    lo = F.array_min(v).cast("double")
    hi = F.array_max(v).cast("double")
    scale = F.when(hi == lo, F.lit(1.0)).otherwise(
        (hi - lo) / F.lit(float(levels - 1))
    )
    # staged projections (no self-join, single scan): stage 1 pins
    # lo/scale once, stage 2 quantizes against them, stage 3 audits.
    # Internal names (__lo/__scale) deliberately differ from the output
    # aliases: Spark's implicit LATERAL COLUMN ALIAS resolution makes a
    # later expression in the same select() resolve `q_lo` to an
    # earlier `rd(...).alias("q_lo")` SIBLING rather than the input
    # column — with same-named intermediates, max_abs_err silently
    # recomputed against the ROUNDED lo/scale (observed: 1.5e-8 drift,
    # oracle mismatch). Distinct internal names make the reference
    # unambiguous.
    base = df.select(
        F.col(id_col),
        v.alias("__v"),
        lo.alias("__lo"),
        scale.alias("__scale"),
        F.size(v).alias("n_dims"),
    )
    q = base.withColumn(
        "qvec",
        F.transform(
            F.col("__v"),
            lambda x: F.floor(
                (x.cast("double") - F.col("__lo")) / F.col("__scale") + F.lit(0.5)
            ).cast("long"),
        ),
    )
    err = F.array_max(
        F.zip_with(
            F.col("__v"),
            F.col("qvec"),
            lambda x, qq: F.abs(
                F.col("__lo") + qq.cast("double") * F.col("__scale") - x.cast("double")
            ),
        )
    )
    qsum = F.aggregate(
        F.col("qvec"), F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    return q.select(
        F.col(id_col),
        F.col("n_dims"),
        qsum.alias("q_sum"),
        rd(F.col("__lo"), 9).alias("q_lo"),
        rd(F.col("__scale"), 9).alias("q_scale"),
        rd(err, 9).alias("max_abs_err"),
    )


def mean_pool(
    df: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
    out_scale: int = 6,
) -> DataFrame:
    """Element-wise mean of embeddings per group — the chunk→document
    (or class-centroid) pooling step of embedding pipelines.

    posexplode + ONE map-side-combined decimal aggregation per
    (group, position); only narrow (group, i, sum, count) partials
    shuffle, never vectors. Output stays as narrow rows
    (group, i, m, n) — the pooled array is one
    ``sort_array(collect_list(struct(i, m)))`` away, kept as rows so
    results are engine-comparable and the reshape never moves wide
    arrays through an exchange. Means are decimal-exact
    (``rd(cast(Σ rd(x,9)::decimal AS double) / n, out_scale)``), so
    pooled centroids are bit-reproducible across engines.
    """
    from time_series_data_trimmer_spark.functions.rounding import rd

    ex = df.select(F.col(group_col), F.posexplode(F.col(vec_col)).alias("i", "x"))
    x = F.col("x").cast("double")
    return (
        ex.groupBy(group_col, "i")
        .agg(
            F.sum(rd(x, 9).cast("decimal(38,9)")).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.col(group_col),
            F.col("i").cast("long").alias("i"),
            rd(F.col("s").cast("double") / F.col("n"), out_scale).alias("m"),
            F.col("n").alias("n_vecs"),
        )
    )


def ivf_lloyd_refine(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    rounds: int = 1,
    sample_hex_lt: str | None = "8",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: str = "tsdt|ivfs",
) -> list[tuple[int, list[float]]]:
    """Refine coarse centroids with ``rounds`` Lloyd iterations over a
    deterministic hash-sample — the "few Lloyd rounds over a sample"
    step ``ivf_centroids`` documents for 100 TB indexes.

    Every step is DECIMAL-exact so a SQL oracle reproduces the refined
    centroids bit-for-bit: sampling keeps rows whose first
    ``md5(seed|id)`` hex digit is ``< sample_hex_lt`` ('8' → 50%;
    ``None`` → no sampling), assignment reuses ``ivf_assign_dec``, and
    each new coordinate is ``rd(cast(Σ rd(x,9)::decimal AS double) /
    n, 9)`` — the repo's standard cross-engine formula. Cells with no
    sampled members keep their previous coordinates, so the centroid
    count is stable by construction.

    Scale shape: per round, one assignment (posexplode + broadcast k·dim
    centroid table + map-side-combined sum) and one mean aggregation on
    the same exploded layout; only k·dim rows — bounded, data-independent
    — ever reach the driver. The sample bounds per-round cost at 100 TB
    (refinement quality needs a representative sample, not every row).
    """
    from time_series_data_trimmer_spark.functions.rounding import rd

    sample = df
    if sample_hex_lt is not None:
        h = F.md5(F.concat_ws("|", F.lit(seed), F.col(id_col).cast("string")))
        sample = df.filter(F.substring(h, 1, 1) < F.lit(sample_hex_lt))
    dim = max(len(vec) for _cid, vec in centroids)
    for _ in range(rounds):
        assigned = ivf_assign_dec(sample, centroids, id_col, vec_col)
        ex = sample.select(
            F.col(id_col), F.posexplode(F.col(vec_col)).alias("i", "x")
        )
        term = rd(F.col("x").cast("double"), 9).cast("decimal(38,9)")
        upd = (
            ex.join(assigned.hint("shuffle_hash"), id_col)
            .groupBy("centroid_id", "i")
            .agg(F.sum(term).alias("s"), F.count(F.lit(1)).alias("n"))
            .select(
                "centroid_id",
                "i",
                rd(F.col("s").cast("double") / F.col("n"), 9).alias("m"),
            )
            .collect()
        )
        by_cid: dict[int, dict[int, float]] = {}
        for row in upd:
            by_cid.setdefault(row["centroid_id"], {})[row["i"]] = row["m"]
        centroids = [
            (cid, [by_cid[cid][i] for i in range(dim)]) if cid in by_cid
            else (cid, vec)
            for cid, vec in centroids
        ]
    return centroids


def probe_centroids(
    centroids: list[tuple[int, list[float]]],
    query_vec: list[float],
    nprobe: int = 4,
) -> list[int]:
    """The ``nprobe`` centroids nearest the query under the SAME
    decimal-exact distance the SQL oracle computes: each squared term
    rounded via floor(d²·1e9 + 0.5) and accumulated as an integer —
    ranking ties break on cid. Pure driver-side math over k rows."""
    import math

    ranked = []
    for cid, vec in centroids:
        s = 0
        for qx, cx in zip(query_vec, vec):
            d = float(qx) - float(cx)
            s += math.floor(d * d * 1e9 + 0.5)
        ranked.append((s, cid))
    return [cid for _, cid in sorted(ranked)[:nprobe]]


def ivf_batch_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[tuple[int, list[float]]] | None = None,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """Top-k neighbors for EVERY query row in ONE corpus pass — the
    batch-retrieval shape of production ANN (embedding search over a
    training corpus runs thousands of probes per job, not one).
    Pass a precomputed ``assigned`` (id, centroid_id) to share one
    assignment plan across several probe configurations (the nprobe
    sweep's 4× win).

    Plan: the corpus is IVF-assigned once (`ivf_assign_dec`, decimal-
    exact); each query's ``nprobe`` nearest cells are ranked on the
    driver over the bounded centroid list (`probe_centroids` — k·|Q|
    scalar work); the (query, cell) probe table broadcast-joins the
    assignment, so a query only ever scores the vectors inside its own
    probed cells (O(N·nprobe/n_centroids) per query, never O(N)); the
    exact decimal re-rank joins candidate vectors by id (shuffle-hash)
    with the broadcast query vectors and ranks per query with a KEYED
    window. Queries must be bounded (a batch, not a second corpus) —
    they are collected to the driver for probe ranking and broadcast
    for scoring; for corpus×corpus joins use the LSH pair path.

    Returns (query_id, vec_id, cosine, rank) with rank ≤ k per query;
    a query's own row is NOT excluded (rank 1 ≈ itself when the query
    comes from the corpus) — filter upstream if unwanted.
    """
    from pyspark.sql import Window

    from time_series_data_trimmer_spark.functions.rounding import rd

    centroids = centroids or ivf_centroids(df, n_centroids, id_col, vec_col)
    if assigned is None:
        assigned = ivf_assign_dec(df, centroids, id_col, vec_col)
    qrows = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    ).collect()
    spark = df.sparkSession
    probe_rows = [
        (int(r["query_id"]), cid)
        for r in qrows
        for cid in probe_centroids(
            centroids, [float(x) for x in r["qvec"]], nprobe
        )
    ]
    probe_df = spark.createDataFrame(probe_rows, "query_id bigint, centroid_id int")
    qvec_df = spark.createDataFrame(
        [(int(r["query_id"]), [float(x) for x in r["qvec"]]) for r in qrows],
        "query_id bigint, qvec array<double>",
    )
    cand = assigned.join(F.broadcast(probe_df), "centroid_id").select(
        id_col, "query_id"
    )
    scored = (
        cand.join(df.select(id_col, vec_col).hint("shuffle_hash"), id_col)
        .join(F.broadcast(qvec_df), "query_id")
        .select(
            "query_id",
            F.col(id_col),
            (
                decimal_dot(F.col(vec_col), F.col("qvec"))
                / (
                    F.sqrt(decimal_dot(F.col(vec_col), F.col(vec_col)))
                    * F.sqrt(decimal_dot(F.col("qvec"), F.col("qvec")))
                )
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        scored.select(
            "query_id",
            F.col(id_col),
            rd(F.col("cosine"), 6).alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def ivf_write_index(
    df: DataFrame,
    index_dir: str,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    mode: str = "overwrite",
) -> None:
    """Materialize (or extend, ``mode='append'``) an on-disk IVF index:
    vectors written hive-partitioned by ``centroid_id``, so a probe
    reads only its nprobe cell DIRECTORIES (PartitionFilters — pruned
    at planning time, zero I/O for other cells).

    The incremental-maintenance contract: centroids are FROZEN at
    index build; daily vector batches are assigned against the same
    centroid list and appended — cell membership is a pure function of
    (vector, centroids), so appended cells stay exactly the cells a
    full rebuild would produce, and batch cost is O(batch), not
    O(index). Rebuild (re-seed + `ivf_lloyd_refine`) when drift makes
    cells unbalanced — `ivf_cell_stats` is the monitor.
    """
    assigned = ivf_assign_dec(df, centroids, id_col, vec_col)
    out = df.join(assigned.hint("shuffle_hash"), id_col)
    out.write.mode(mode).partitionBy("centroid_id").parquet(index_dir)


def ivf_index_probe(
    spark,
    index_dir: str,
    centroids: list[tuple[int, list[float]]],
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe the on-disk IVF index: rank cells driver-side over the
    bounded centroid list, scan ONLY those partition directories
    (planning-time pruning), exact decimal re-rank inside."""
    from time_series_data_trimmer_spark.functions.rounding import rd

    probe_ids = probe_centroids(centroids, query_vec, nprobe)
    cand = spark.read.parquet(index_dir).filter(
        F.col("centroid_id").isin(probe_ids)
    )
    scored = decimal_cosine_vs_query(cand, query_vec, id_col, vec_col)
    return (
        scored.select(id_col, rd(F.col("cosine"), 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )


def ivf_cell_stats(spark, index_dir: str) -> DataFrame:
    """Per-cell population of the on-disk index — the drift monitor
    that decides when frozen centroids need a rebuild (cells read via
    partition listing + count, a metadata-cheap aggregation)."""
    return (
        spark.read.parquet(index_dir)
        .groupBy("centroid_id")
        .count()
        .withColumnRenamed("count", "n_vectors")
    )


def ivf_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """Approximate cosine top-k: score only the vectors assigned to the
    ``nprobe`` centroids nearest the query. O(N·nprobe/n_centroids)
    scan instead of O(N); exactness rises with nprobe (→ brute force at
    nprobe = n_centroids)."""
    centroids = centroids or ivf_centroids(df, n_centroids, id_col, vec_col)
    ranked = sorted(
        centroids,
        key=lambda c: sum((q - x) ** 2 for q, x in zip(query_vec, c[1])),
    )
    probe_ids = [cid for cid, _ in ranked[:nprobe]]
    assigned = ivf_assign(df, centroids, id_col, vec_col)
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        assigned.filter(F.col("centroid_id").isin(probe_ids))
        .select(F.col(id_col), cosine_similarity(F.col(vec_col), q).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )


def dequantize(qvec: Column, lo: Column, scale: Column) -> Column:
    """Reconstruct ``lo + code·scale`` from `quantize_embeddings`
    output — scan-side, zero shuffle."""
    return F.transform(qvec, lambda c: lo + c.cast("double") * scale)


def ivf_pq_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    shortlist: int = 30,
    n_centroids: int = 16,
    nprobe: int = 4,
    levels: int = 256,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF + quantized-scan top-k with exact re-rank — the full
    production ANN read path of a disk-resident vector store:

    1. coarse quantizer: probe the ``nprobe`` cells nearest the query
       (decimal-exact assignment, as `ivf_topk`);
    2. fine scan: score probed candidates against the query on their
       QUANTIZED reconstruction (`quantize_embeddings` codes,
       ``lo + q·scale`` — the int8 layout a 100 TB store actually
       reads; 4× less I/O than float32) and keep a deterministic
       ``shortlist`` by (approx dot desc, id);
    3. exact re-rank: fetch full-precision vectors for the shortlist
       only and return the top ``k`` by exact decimal cosine.

    Every step is a pure function of the inputs (floor-formula codes,
    decimal accumulation, id tie-breaks), so the whole pipeline is
    oracle-checkable. Shortlist selection is a TakeOrdered (partial
    per-partition top-k, no global sort); the re-rank join touches
    ``shortlist`` rows."""
    cents = ivf_centroids(df, n_centroids, id_col, vec_col)
    assigned = ivf_assign_dec(df, cents, id_col, vec_col)
    probe_ids = probe_centroids(cents, query_vec, nprobe=nprobe)
    keep = assigned.filter(F.col("centroid_id").isin(probe_ids)).select(id_col)
    qz = quantize_embeddings(df.join(keep, id_col), id_col, vec_col, levels)
    recon = dequantize(F.col("qvec"), F.col("q_lo"), F.col("q_scale"))
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    approx = qz.select(
        F.col(id_col), decimal_dot(recon, q).alias("approx_dot")
    )
    short = (
        approx.orderBy(F.col("approx_dot").desc(), F.col(id_col).asc())
        .limit(int(shortlist))
        .select(id_col, "approx_dot")
    )
    exact = decimal_cosine_vs_query(df.join(short, id_col), query_vec, id_col, vec_col)
    return (
        exact.join(short, id_col)
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(int(k))
    )


def covariance_matrix(
    df: DataFrame,
    vec_col: str = "embedding",
    out_scale: int = 6,
    expect_dim: int | None = None,
) -> DataFrame:
    """Distributed covariance matrix of an embedding column — the
    first step of PCA / whitening / decorrelation over a 100 TB vector
    store (the d×d covariance is the bounded summary a driver-side
    eigensolver then factors; d² stays tiny while N is the scale
    axis).

    Returns the upper triangle as narrow rows (i, j, n_vecs, cov),
    i ≤ j, 0-based, cov = E[x_i·x_j] − E[x_i]·E[x_j].

    Scale shape: one CPU-spread repartition of the raw vectors, then
    each row expands scan-side into its d(d+1)/2 products (nested
    shifted-slice transforms — no self-join, no per-element vector
    shuffle); the explode feeds a map-side-combined aggregation whose
    partial state is ≤ d² rows PER PARTITION, so the only exchange
    carries d²·n_partitions narrow partial rows regardless of N.
    Sums are decimal-exact over 9-dp-rounded terms (the repo's
    cross-engine formula), so every covariance entry is
    bit-reproducible in the SQL oracle.
    """
    from time_series_data_trimmer_spark.functions.rounding import rd

    # PRECONDITION: fixed-dimension vectors with no NULL elements —
    # a NULL element would be counted in n_vecs but skipped by the
    # sums, biasing every covariance entry it touches. `expect_dim`
    # guards the ragged case scan-side (rows of any other length are
    # dropped); NULL elements are the store's contract to prevent.
    if expect_dim is not None:
        df = df.filter(F.size(F.col(vec_col)) == int(expect_dim))
    # CPU-spread: a small/single-file vector store scans as ONE
    # partition, which would serialize the d(d+1)/2-per-row expansion
    # into one task (the dedup-family precedent). Only (id-free)
    # d-float vectors move — once.
    df = spread(df)
    v = F.col(vec_col)
    n_dim = F.size(v)
    pairs = F.flatten(
        F.transform(
            v,
            lambda x, i: F.transform(
                F.slice(v, i + F.lit(1), n_dim - i),
                lambda y, jj: F.struct(
                    i.alias("i"),
                    (i + jj).alias("j"),
                    (x.cast("double") * y.cast("double")).alias("p"),
                ),
            ),
        )
    )
    ex = df.select(F.explode(pairs).alias("pr")).select(
        F.col("pr.i").alias("i"), F.col("pr.j").alias("j"), F.col("pr.p").alias("p")
    )
    prods = ex.groupBy("i", "j").agg(
        F.sum(rd(F.col("p"), 9).cast("decimal(38,9)")).alias("__sp"),
        F.count(F.lit(1)).alias("__n"),
    )
    means = (
        df.select(F.posexplode(v).alias("mi", "x"))
        .groupBy("mi")
        .agg(F.sum(rd(F.col("x").cast("double"), 9).cast("decimal(38,9)")).alias("__s"))
        .select(F.col("mi"), (F.col("__s").cast("double")).alias("__sm"))
    )
    mi = F.broadcast(means.select(F.col("mi"), F.col("__sm").alias("__smi")))
    mj = F.broadcast(means.select(F.col("mi").alias("mj"), F.col("__sm").alias("__smj")))
    nn = F.col("__n").cast("double")
    cov = (F.col("__sp").cast("double") / nn) - (
        (F.col("__smi") / nn) * (F.col("__smj") / nn)
    )
    return (
        prods.join(mi, prods["i"] == mi["mi"])
        .join(mj, prods["j"] == mj["mj"])
        .select(
            F.col("i").cast("int").alias("i"),
            F.col("j").cast("int").alias("j"),
            F.col("__n").alias("n_vecs"),
            rd(cov, out_scale).alias("cov"),
        )
    )


def jl_sign_matrix(in_dim: int, out_dim: int, seed: str = "tsdt|jl") -> list[list[int]]:
    """Deterministic ±1 Johnson–Lindenstrauss projection matrix:
    sign(k, j) = +1 iff the first hex digit of ``md5(seed|k|j)`` is
    even. Pure Python/hashlib — the same literal matrix is inlined
    into BOTH the Spark plan and the SQL oracle, so the projection is
    engine-independent by construction (no RNG, no broadcast needed:
    k·d ints travel inside the plan)."""
    import hashlib

    return [
        [
            1
            if int(hashlib.md5(f"{seed}|{k}|{j}".encode()).hexdigest()[0], 16) % 2 == 0
            else -1
            for j in range(in_dim)
        ]
        for k in range(out_dim)
    ]


def jl_project(
    df: DataFrame,
    in_dim: int,
    out_dim: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: str = "tsdt|jl",
    out_scale: int = 6,
) -> DataFrame:
    """Johnson–Lindenstrauss projection to ``out_dim`` dims with the
    ±1 (Achlioptas) construction: y_k = Σ_j sign_kj·x_j / √out_dim.
    The standard cheap dimensionality reduction before LSH/ANN at
    100 TB — distance-preserving to (1±ε) with out_dim = O(log N/ε²),
    and ±1 signs mean the projection is adds/subtracts, no float
    matrix multiply.

    Returns narrow rows (id, k, y) — the reshaped array is one
    ``sort_array(collect_list(struct(k, y)))`` away; rows keep the
    result engine-comparable.

    Determinism: signs flip terms exactly (±x is sign-bit-only), each
    component accumulates 9-dp-rounded terms in decimal(38,9) — a
    fixed-order-free EXACT sum — then divides by √out_dim once.
    Scale shape: pure scan-side per-row expression fan-out (out_dim
    structs per row), zero shuffle, nothing broadcast — the sign
    matrix rides in the plan as literals.
    """
    from time_series_data_trimmer_spark.functions.rounding import rd

    signs = jl_sign_matrix(in_dim, out_dim, seed)
    # zip_with pads a short vector with NULLs, which would null the
    # whole component (and diverge from the oracle, which iterates
    # actual elements): project ONLY exact-in_dim rows.
    df = df.filter(F.size(F.col(vec_col)) == int(in_dim))
    v = F.col(vec_col)
    inv = 1.0 / float(out_dim) ** 0.5
    comps = F.array(
        *[
            F.struct(
                F.lit(k).alias("k"),
                (
                    F.aggregate(
                        F.zip_with(
                            v,
                            F.array(*[F.lit(s) for s in signs[k]]),
                            lambda x, s: rd(x.cast("double"), 9) * s.cast("double"),
                        ),
                        # decimal(38,9) would be the reflex, but
                        # (38,9)+(38,9) widens to (39,9) which Spark caps
                        # at (38,8) — SILENTLY rounding the 9th decimal at
                        # every fold step. (20,9)+(20,9) → (21,9) stays
                        # inside the precision budget, so each add is
                        # exact; the re-cast pins the accumulator type.
                        F.lit(0).cast("decimal(20,9)"),
                        lambda acc, t: (acc + t.cast("decimal(20,9)")).cast(
                            "decimal(20,9)"
                        ),
                    ).cast("double")
                    * F.lit(inv)
                ).alias("y"),
            )
            for k in range(out_dim)
        ]
    )
    return df.select(F.col(id_col), F.explode(comps).alias("c")).select(
        F.col(id_col),
        F.col("c.k").alias("k"),
        rd(F.col("c.y"), out_scale).alias("y"),
    )


def power_iteration_top_eigen(
    df: DataFrame,
    rounds: int = 3,
    vec_col: str = "embedding",
) -> DataFrame:
    """Leading eigenvector of the embedding covariance by power
    iteration — the PCA axis, end-to-end on Spark: the d×d covariance
    is computed DISTRIBUTED (`covariance_matrix`; N is the scale
    axis), then ``rounds`` iterations of v ← C·v / ‖C·v‖ run on the
    bounded d² frame. Returns (i, v, eigenvalue) — eigenvalue is the
    final iterate's norm (the Rayleigh-quotient limit for a dominant
    positive eigenvalue).

    Every step is decimal-exact so a SQL oracle can unroll the whole
    iteration: products are 12-dp-rounded then summed in
    decimal(38,12) (exact, order-free), norms are sqrt of exact sums
    (correctly-rounded IEEE), iterates re-round to 9 dp. The start
    vector is the uniform unit vector rd(1/√d, 9) — positive, so the
    dominant-eigenvector sign is deterministic (no eigensolver sign
    ambiguity).

    Scale shape: the heavy stage is the covariance (see
    `covariance_matrix`); the symmetric matrix is localCheckpointed
    (d² bounded rows — sanctioned) so iterations do NOT re-run the
    corpus pass per round; each round is a broadcast join of the
    64-row iterate against the d² frame plus the sanctioned 1-row
    norm-scalar broadcast. Nothing unbounded touches the driver.
    """
    from time_series_data_trimmer_spark.functions.rounding import rd

    if int(rounds) < 1:
        raise ValueError("power iteration needs rounds >= 1")
    first = df.select(vec_col).first()
    if first is None:
        raise ValueError("empty input frame — no vectors to factor")
    cov = covariance_matrix(df, vec_col=vec_col)
    full = (
        cov.select("i", "j", "cov")
        .unionByName(
            cov.filter(F.col("i") != F.col("j")).select(
                F.col("j").alias("i"), F.col("i").alias("j"), "cov"
            )
        )
        .localCheckpoint(eager=False)
    )
    import math

    d = len(first[0])
    v0 = math.floor(1.0 / float(d) ** 0.5 * 1e9 + 0.5) / 1e9
    v = full.select(F.col("i").alias("idx")).distinct().select(
        "idx", F.lit(float(v0)).alias("val")
    )
    w = None
    for _ in range(int(rounds)):
        w = (
            full.join(F.broadcast(v), full["j"] == v["idx"])
            .groupBy(full["i"].alias("widx"))
            .agg(
                F.sum(
                    rd(F.col("cov") * F.col("val"), 12).cast("decimal(38,12)")
                ).alias("__s")
            )
            .select(F.col("widx"), F.col("__s").cast("double").alias("w"))
        )
        nm = w.agg(
            F.sqrt(
                F.sum(rd(F.col("w") * F.col("w"), 12).cast("decimal(38,12)")).cast(
                    "double"
                )
            ).alias("nm")
        )
        v = w.crossJoin(F.broadcast(nm)).select(
            F.col("widx").alias("idx"),
            rd(F.col("w") / F.col("nm"), 9).alias("val"),
            F.col("nm").alias("__nm"),
        )
    return v.select(
        F.col("idx").cast("int").alias("i"),
        F.col("val").alias("v"),
        rd(F.col("__nm"), 6).alias("eigenvalue"),
    )


# ---------------------------------------------------------------------------
# SemDeDup — IVF-cell-blocked semantic deduplication
# ---------------------------------------------------------------------------


def semdedup_pairs(
    df: DataFrame,
    tau: float = 0.4,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assigned: DataFrame | None = None,
) -> DataFrame:
    """Within-cell semantic near-dup pairs, the SemDeDup candidate
    structure (Abbas et al., "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication", 2023): cluster the
    embedding space coarsely, then compare ONLY vectors that landed in
    the same cell — the k-means cells replace LSH buckets as the
    blocking structure, so compare volume is Σ_cells |C|² rather than
    N², and (unlike LSH) the same clustering is reusable for IVF
    search and domain analysis.

    Plan shape: `ivf_assign_dec` is a posexplode + broadcast (k·dim
    centroid table) + one map-side-combined aggregation; the pair join
    is a shuffle-hash self-join keyed on ``centroid_id`` (AQE sees the
    real cell sizes); the exact cosine is `decimal_dot` on the carried
    arrays — JVM-side zip_with, no Python. Grow ``n_centroids`` ∝ N at
    scale (SemDeDup uses k ≈ N/1000) so cells stay O(1) and the
    self-join stays linear; the centroid table stays a broadcast
    because k·dim ≪ memory even at k = 10⁵.

    Returns (id_a < id_b, centroid_id, cosine) for all same-cell pairs
    with exact decimal cosine ≥ ``tau``. Pass a precomputed
    ``assigned`` (id, centroid_id) to share one assignment plan across
    pairs + survivors.
    """
    if assigned is None:
        centroids = ivf_centroids(df, n_centroids, id_col, vec_col)
        assigned = ivf_assign_dec(df, centroids, id_col, vec_col)
    base = (
        df.select(F.col(id_col), F.col(vec_col).alias("v"))
        .join(assigned.hint("shuffle_hash"), id_col)
        .withColumn("nrm", F.sqrt(decimal_dot(F.col("v"), F.col("v"))))
    )
    a = base.select(
        F.col("centroid_id"),
        F.col(id_col).alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na"),
    )
    b = base.select(
        F.col("centroid_id"),
        F.col(id_col).alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb"),
    )
    joined = a.join(b.hint("shuffle_hash"), "centroid_id").filter(
        F.col("id_a") < F.col("id_b")
    )
    # two-tier scoring (5.0 s → ~1.9 s at sf0.1): the cheap FLOAT
    # cosine prunes the Σ|C|² candidate pairs; the DECIMAL-exact
    # cosine (the oracle-compared decision value) re-scores only pairs
    # inside the margin. Sound because |float − decimal| is bounded by
    # the 9-dp per-term rounding (64 · 5e-10) plus float summation
    # error — orders of magnitude under the 1e-4 margin — so no pair
    # with decimal cosine ≥ τ is ever pruned.
    fcos = _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    cand = joined.filter(fcos >= F.lit(float(tau) - 1e-4))
    cos = decimal_dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return cand.select(
        "id_a", "id_b", "centroid_id", cos.alias("cosine")
    ).filter(F.col("cosine") >= F.lit(float(tau)))


def semdedup_survivors(
    df: DataFrame,
    tau: float = 0.4,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup survivor set: drop every vector that has a SMALLER-id
    same-cell neighbor with cosine ≥ τ; keep the rest. The greedy
    min-id-wins rule (the repo's standing survivor convention — simhash
    and exact-dedup use the same one) is deterministic, engine-portable
    and anti-join-shaped; the paper's "keep the item farthest from the
    centroid" tie-break changes WHICH representative survives, not how
    many, and would cost an extra distance join for no plan benefit.

    Output: (id, centroid_id) for survivors. The drop set moves as
    bare ids (one distinct + one left_anti, both narrow); embeddings
    never shuffle beyond the pair join in `semdedup_pairs`.
    """
    centroids = ivf_centroids(df, n_centroids, id_col, vec_col)
    # the assignment subtree feeds both the pair join and the final
    # anti-join; recomputing it is cheaper than checkpointing it
    # (measured 2.93 s vs 3.01 s at sf0.1 — the subtree is one
    # posexplode+argmin, and a checkpoint pays a materialization)
    assigned = ivf_assign_dec(df, centroids, id_col, vec_col)
    pairs = semdedup_pairs(df, tau, n_centroids, id_col, vec_col, assigned=assigned)
    dropped = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return assigned.join(dropped.hint("shuffle_hash"), id_col, "left_anti")


def matryoshka_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    prefix_dims: int = 8,
    shortlist: int = 40,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-tier ANN over Matryoshka-style embeddings (Kusupati et al.
    2022, "Matryoshka Representation Learning"): score EVERY vector on
    only its first ``prefix_dims`` coordinates (MRL trains prefixes to
    be usable embeddings), keep a deterministic ``shortlist`` of the
    best prefix cosines, then re-rank just the shortlist with the
    exact full-dimension cosine.

    The 100 TB shape: the coarse pass touches prefix_dims/dim of the
    vector bytes (with the prefix stored as its own column the scan
    prunes the full vector entirely), and the full vectors are read
    only for the shortlist via a broadcast semi-join — the same
    two-tier float-prune/exact-verify discipline as SemDeDup. Both
    tiers use decimal-exact dots, ties break on the id, so the
    shortlist membership and final ranking are engine-reproducible.
    """
    from time_series_data_trimmer_spark.functions.rounding import rd

    qp = [float(x) for x in query_vec[:prefix_dims]]
    pref = df.select(
        F.col(id_col), F.slice(F.col(vec_col), 1, prefix_dims).alias("__pv")
    )
    coarse = decimal_cosine_vs_query(
        pref, qp, id_col=id_col, vec_col="__pv"
    ).select(F.col(id_col), rd(F.col("cosine"), 6).alias("coarse_cosine"))
    short = coarse.orderBy(
        F.col("coarse_cosine").desc(), F.col(id_col).asc()
    ).limit(int(shortlist))
    full = decimal_cosine_vs_query(
        df.join(F.broadcast(short), id_col).select(
            F.col(id_col), F.col(vec_col)
        ),
        [float(x) for x in query_vec],
        id_col=id_col,
        vec_col=vec_col,
    ).select(F.col(id_col), rd(F.col("cosine"), 6).alias("cosine"))
    return (
        short.join(full.hint("shuffle_hash"), id_col)
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(int(k))
        .select(id_col, "coarse_cosine", "cosine")
    )


def knn_label_agreement(
    df: DataFrame,
    label_col: str = "label",
    bits: int = 8,
    tables: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: str = "tsdt",
    dim: int | None = None,
) -> DataFrame:
    """Embedding-space label-noise audit: for every vector, find its
    nearest LSH-blocked neighbor (exact decimal cosine re-rank, 6-dp
    rounded before ranking so the winner is engine-reproducible) and
    report, per label, how often that neighbor carries the SAME label
    — the 1-NN consistency score. Labels whose vectors' neighbors
    disagree are mislabeled, duplicated across classes, or living in
    another class's embedding region; this is the standard cheap audit
    before training on weak labels.

    Plan: the same Σ|B|² candidate generation as the blocked dedup
    path (no join, bounded buckets), two id-keyed shuffle-hash joins
    for the exact re-rank, one keyed window for the per-vector top-1,
    one label join, one label-keyed aggregation. Nothing quadratic in
    N, nothing broadcast that scales with N.
    """
    from pyspark.sql import Window

    from time_series_data_trimmer_spark.functions.rounding import rd

    if dim is None:
        row = df.select(vec_col).first()
        if row is None or row[0] is None:
            raise ValueError(
                "cannot infer embedding dim from an empty table; pass dim="
            )
        dim = len(row[0])
    cand = lsh_candidate_pairs(df, dim, bits, tables, id_col, vec_col, seed)
    base = df.select(
        F.col(id_col),
        F.col(vec_col).alias("__v"),
        F.sqrt(decimal_dot(F.col(vec_col), F.col(vec_col))).alias("__nrm"),
    )
    a = base.select(
        F.col(id_col).alias("id_a"), F.col("__v").alias("va"), F.col("__nrm").alias("na")
    )
    b = base.select(
        F.col(id_col).alias("id_b"), F.col("__v").alias("vb"), F.col("__nrm").alias("nb")
    )
    scored = (
        cand.join(a.hint("shuffle_hash"), "id_a")
        .join(b.hint("shuffle_hash"), "id_b")
        .select(
            "id_a",
            "id_b",
            rd(
                decimal_dot(F.col("va"), F.col("vb"))
                / (F.col("na") * F.col("nb")),
                6,
            ).alias("cos"),
        )
    )
    sym = scored.select(
        F.col("id_a").alias("vid"), F.col("id_b").alias("nbr"), "cos"
    ).unionAll(
        scored.select(
            F.col("id_b").alias("vid"), F.col("id_a").alias("nbr"), "cos"
        )
    )
    w = Window.partitionBy("vid").orderBy(F.col("cos").desc(), F.col("nbr").asc())
    top1 = sym.withColumn("__r", F.row_number().over(w)).filter(F.col("__r") == 1)
    labels = df.select(F.col(id_col), F.col(label_col).alias("__lbl"))
    own = labels.select(F.col(id_col).alias("vid"), F.col("__lbl").alias("lbl"))
    nb = labels.select(F.col(id_col).alias("nbr"), F.col("__lbl").alias("nbr_lbl"))
    j = (
        own.join(top1.hint("shuffle_hash"), "vid", "left")
        .join(nb.hint("shuffle_hash"), "nbr", "left")
    )
    agg = j.groupBy("lbl").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum(F.when(F.col("nbr").isNotNull(), 1).otherwise(0)).alias("n_scored"),
        F.sum(
            F.when(F.col("nbr_lbl") == F.col("lbl"), 1).otherwise(0)
        ).alias("n_agree"),
    )
    return agg.select(
        F.col("lbl").alias(label_col),
        "n_vecs",
        "n_scored",
        "n_agree",
        rd(
            F.when(F.col("n_scored") == 0, F.lit(0.0)).otherwise(
                F.col("n_agree").cast("double") / F.col("n_scored")
            ),
            6,
        ).alias("agreement"),
    )


def _lsh_ranked_candidates(
    df: DataFrame,
    bits: int,
    tables: int,
    id_col: str,
    vec_col: str,
    seed: str,
    dim: int | None,
    label_col: str,
):
    """Shared retrieval-eval frame: every vector's LSH-blocked
    candidates ranked by exact decimal cosine (``__rk``), joined with
    the query's (``q_lbl``) and neighbor's (``n_lbl``) labels — plus
    the per-query ``own`` frame (vid, q_lbl) giving the honest all-
    queries denominator. Factored so `retrieval_mrr` and
    `retrieval_ndcg` rank the identical candidate set."""
    from pyspark.sql import Window

    from time_series_data_trimmer_spark.functions.rounding import rd

    if dim is None:
        row = df.select(vec_col).first()
        if row is None or row[0] is None:
            raise ValueError(
                "cannot infer embedding dim from an empty table; pass dim="
            )
        dim = len(row[0])
    cand = lsh_candidate_pairs(df, dim, bits, tables, id_col, vec_col, seed)
    base = df.select(
        F.col(id_col),
        F.col(vec_col).alias("__v"),
        F.sqrt(decimal_dot(F.col(vec_col), F.col(vec_col))).alias("__nrm"),
    )
    a = base.select(
        F.col(id_col).alias("id_a"), F.col("__v").alias("va"), F.col("__nrm").alias("na")
    )
    b = base.select(
        F.col(id_col).alias("id_b"), F.col("__v").alias("vb"), F.col("__nrm").alias("nb")
    )
    scored = (
        cand.join(a.hint("shuffle_hash"), "id_a")
        .join(b.hint("shuffle_hash"), "id_b")
        .select(
            "id_a",
            "id_b",
            rd(
                decimal_dot(F.col("va"), F.col("vb"))
                / (F.col("na") * F.col("nb")),
                6,
            ).alias("cos"),
        )
    )
    sym = scored.select(
        F.col("id_a").alias("vid"), F.col("id_b").alias("nbr"), "cos"
    ).unionAll(
        scored.select(
            F.col("id_b").alias("vid"), F.col("id_a").alias("nbr"), "cos"
        )
    )
    labels = df.select(F.col(id_col), F.col(label_col).alias("__lbl"))
    own = labels.select(F.col(id_col).alias("vid"), F.col("__lbl").alias("q_lbl"))
    nb = labels.select(F.col(id_col).alias("nbr"), F.col("__lbl").alias("n_lbl"))
    w = Window.partitionBy("vid").orderBy(F.col("cos").desc(), F.col("nbr").asc())
    ranked = (
        sym.withColumn("__rk", F.row_number().over(w))
        .join(own.hint("shuffle_hash"), "vid")
        .join(nb.hint("shuffle_hash"), "nbr")
    )
    return ranked, own


def retrieval_mrr(
    df: DataFrame,
    label_col: str = "label",
    bits: int = 8,
    tables: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: str = "tsdt",
    dim: int | None = None,
) -> DataFrame:
    """Label-as-relevance retrieval evaluation over the LSH-blocked
    candidate set: for every vector ("query"), rank its candidates by
    exact decimal cosine and take the RECIPROCAL RANK of the first
    SAME-label neighbor; per label, MRR = mean reciprocal rank with
    rr = 0 for queries whose candidate list contains no same-label
    vector (the honest denominator — a retrieval system is judged on
    every query, not just the ones it happened to block well).

    This is the standard cheap eval for an embedding space destined
    for retrieval / hard-negative mining: agreement (1-NN audit) says
    whether the top hit is right; MRR says how far down the right
    answer lives. Same bounded Σ|B|² candidate generation and
    id-keyed re-rank joins as `knn_label_agreement`; the per-query
    rank is one keyed window; reciprocal ranks are 6-dp rounded then
    DECIMAL-summed so the label mean is partial-agg-order-proof.
    """
    ranked, own = _lsh_ranked_candidates(
        df, bits, tables, id_col, vec_col, seed, dim, label_col
    )
    from time_series_data_trimmer_spark.functions.rounding import rd
    first_hit = (
        ranked.filter(F.col("n_lbl") == F.col("q_lbl"))
        .groupBy("vid")
        .agg(F.min("__rk").alias("__r1"))
    )
    per_q = own.join(first_hit.hint("shuffle_hash"), "vid", "left").select(
        "vid",
        "q_lbl",
        rd(
            F.when(F.col("__r1").isNull(), F.lit(0.0)).otherwise(
                F.lit(1.0) / F.col("__r1").cast("double")
            ),
            6,
        ).alias("__rr"),
    )
    agg = per_q.groupBy("q_lbl").agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.sum((F.col("__rr") > 0).cast("long")).alias("n_hit"),
        F.sum(F.col("__rr").cast("decimal(38,6)")).alias("__sum_rr"),
    )
    return agg.select(
        F.col("q_lbl").alias(label_col),
        "n_queries",
        "n_hit",
        rd(
            F.col("__sum_rr").cast("double") / F.col("n_queries").cast("double"),
            6,
        ).alias("mrr"),
    )


def centroid_ood_zscores(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    z_bar: float = 2.0,
) -> DataFrame:
    """Per-vector OUT-OF-DISTRIBUTION score against the vector's own
    label centroid: cosine to the (decimal-exact) label mean, z-scored
    within the label — |z| ≥ ``z_bar`` flags probable mislabels and
    outliers BEFORE they poison contrastive training or centroid-based
    dedup (SemDeDup's cells assume labels cluster; this is the audit
    of that assumption — completes the embedding-quality family next
    to `knn_label_agreement` (neighbor votes), `retrieval_mrr`
    (ranking depth) and `isotropy_report` (collapse)).

    Scale shape: centroids via `mean_pool` (narrow (label, i) decimal
    partials — vectors never shuffle); per-vector cosine is ONE
    map-side-combined aggregation over the posexploded join against
    the broadcast-size centroid table; label statistics ride a
    label-keyed window over N narrow rows. Every mean/variance is
    decimal-summed on a fixed rounding grid, so z-scores reproduce
    bit-for-bit in any engine.
    """
    from pyspark.sql import Window

    from time_series_data_trimmer_spark.functions.rounding import rd

    cents = mean_pool(df, group_col=label_col, vec_col=vec_col)
    ex = df.select(
        F.col(label_col),
        F.col(id_col),
        F.posexplode(F.col(vec_col)).alias("i", "x"),
    ).withColumn("x", F.col("x").cast("double"))
    j = ex.join(
        F.broadcast(cents.select(label_col, "i", "m")), [label_col, "i"]
    )
    pv = j.groupBy(label_col, id_col).agg(
        F.sum(rd(F.col("x") * F.col("m"), 9).cast("decimal(38,9)"))
        .cast("double")
        .alias("__dxy"),
        F.sum(rd(F.col("x") * F.col("x"), 9).cast("decimal(38,9)"))
        .cast("double")
        .alias("__dxx"),
        F.sum(rd(F.col("m") * F.col("m"), 9).cast("decimal(38,9)"))
        .cast("double")
        .alias("__dyy"),
    )
    c = rd(
        F.col("__dxy") / (F.sqrt(F.col("__dxx")) * F.sqrt(F.col("__dyy"))),
        6,
    )
    cs = pv.select(label_col, id_col, c.alias("__c"))
    wl = Window.partitionBy(label_col)
    mu = rd(
        F.sum(rd(F.col("__c"), 6).cast("decimal(38,6)")).over(wl).cast("double")
        / F.count(F.lit(1)).over(wl),
        6,
    )
    msq = rd(
        F.sum(rd(F.col("__c") * F.col("__c"), 12).cast("decimal(38,12)"))
        .over(wl)
        .cast("double")
        / F.count(F.lit(1)).over(wl),
        12,
    )
    st = cs.select(
        label_col,
        id_col,
        "__c",
        mu.alias("__mu"),
        F.sqrt(F.greatest(msq - mu * mu, F.lit(0.0))).alias("__sig"),
    )
    z = F.when(
        F.col("__sig") > 0,
        rd((F.col("__c") - F.col("__mu")) / F.col("__sig"), 6),
    ).otherwise(F.lit(0.0))
    return st.select(
        F.col(id_col),
        F.col(label_col),
        F.col("__c").alias("cos_centroid"),
        z.alias("z_score"),
        F.when(F.abs(z) >= F.lit(float(z_bar)), 1)
        .otherwise(0)
        .cast("int")
        .alias("ood_flag"),
    )


def prototypicality_prune(
    df: DataFrame,
    n_centroids: int = 16,
    prune_pct: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SSL-prototypes data pruning (Sorscher et al., NeurIPS 2022
    "Beyond neural scaling laws"): rank every vector by cosine to its
    own IVF-cell centroid (its PROTOTYPICALITY) and drop the top
    ``prune_pct``% most prototypical per cell — in the abundant-data
    regime, easy/redundant examples near cluster cores contribute the
    least to training, so pruning them beats random subsampling. The
    curation DECISION complement of the embedding family: SemDeDup
    removes near-copies, `centroid_ood_zscores` flags mislabels, this
    picks which of the REMAINING docs earn a training slot.

    Unsupervised (no labels): cells are the same deterministic IVF
    structure the `sim_ivf_*` searches and SemDeDup use — one
    clustering pays for retrieval, dedup AND pruning. Cosine is
    decimal-exact on the shared 9-dp grid; the keep line is INTEGER
    arithmetic (rank > (n·pct) div 100), so the cut reproduces
    bit-for-bit in any engine (no 0.2·n float edge).

    Plan: assignment is the scan-side broadcast argmin
    (`ivf_assign_dec` — vectors never shuffle for it); the score is
    ONE map-side-combined aggregation over the posexploded join
    against the k·dim broadcast centroid table; the rank is one
    cell-keyed window over N narrow rows. Assignment work is N·k and
    ranking N — no pair volume anywhere, so a FIXED k stays linear at
    100 TB (unlike SemDeDup's within-cell pairs, which need k ∝ √N).
    """
    from pyspark.sql import Window

    from time_series_data_trimmer_spark.functions.rounding import rd

    cents = ivf_centroids(df, n_centroids, id_col=id_col, vec_col=vec_col)
    assigned = ivf_assign_dec(df, cents, id_col=id_col, vec_col=vec_col)
    rows = [(cid, i, float(x)) for cid, vec in cents for i, x in enumerate(vec)]
    cdf = df.sparkSession.createDataFrame(rows, "cid int, i int, w double")
    ex = df.select(
        F.col(id_col), F.posexplode(F.col(vec_col)).alias("i", "x")
    ).withColumn("x", F.col("x").cast("double"))
    j = (
        ex.join(assigned.withColumnRenamed("centroid_id", "cid"), id_col)
        .join(F.broadcast(cdf), ["cid", "i"])
    )
    pv = j.groupBy(id_col, "cid").agg(
        F.sum(rd(F.col("x") * F.col("w"), 9).cast("decimal(38,9)"))
        .cast("double")
        .alias("__dxy"),
        F.sum(rd(F.col("x") * F.col("x"), 9).cast("decimal(38,9)"))
        .cast("double")
        .alias("__dxx"),
        F.sum(rd(F.col("w") * F.col("w"), 9).cast("decimal(38,9)"))
        .cast("double")
        .alias("__dyy"),
    )
    cos = rd(
        F.col("__dxy") / (F.sqrt(F.col("__dxx")) * F.sqrt(F.col("__dyy"))), 6
    )
    scored = pv.select(F.col(id_col), F.col("cid"), cos.alias("proto_cos"))
    wc = Window.partitionBy("cid").orderBy(
        F.col("proto_cos").desc(), F.col(id_col).asc()
    )
    wn = Window.partitionBy("cid")
    # integer cut line: (n_cell · pct) div 100 — the double division of
    # two exact ints truncates to the same integer in any engine
    cut = (
        (F.count(F.lit(1)).over(wn) * F.lit(int(prune_pct))).cast("double")
        / F.lit(100.0)
    ).cast("long")
    return scored.select(
        F.col(id_col),
        F.col("cid").cast("int").alias("centroid_id"),
        F.col("proto_cos"),
        (F.row_number().over(wc).cast("long") > cut).alias("keep"),
    )


def ndcg_weights(k: int) -> tuple[list[float], list[float]]:
    """The binary-gain DCG position weights 1/log2(r+1) for r = 1..k,
    pre-rounded to 9 dp, and their exact prefix sums (the IDCG table).
    Computed ONCE here and embedded as identical literals in both the
    Spark plan and the oracle SQL — cross-engine log2 never runs at
    query time."""
    import math
    from decimal import Decimal

    ws = [round(1.0 / math.log2(r + 1), 9) for r in range(1, k + 1)]
    acc, idcg = Decimal(0), []
    for w in ws:
        acc += Decimal(str(w))
        idcg.append(float(acc))
    return ws, idcg


def retrieval_ndcg(
    df: DataFrame,
    k: int = 10,
    label_col: str = "label",
    bits: int = 8,
    tables: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: str = "tsdt",
    dim: int | None = None,
) -> DataFrame:
    """NDCG@k with labels as binary relevance, over the SAME
    LSH-blocked exact-cosine ranking as `retrieval_mrr`
    (`_lsh_ranked_candidates`): per query, DCG@k = Σ_{r≤k, same-label}
    1/log2(r+1), normalized by the IDEAL DCG for min(k, |label|−1)
    relevant items in the WHOLE corpus — so a query pays both for
    ranking relevant items low AND for candidates its blocks never
    produced (the generator-recall term MRR's first-hit metric is
    blind to). ndcg = 0 for queries with no relevant candidate; the
    mean is over every query (the honest denominator, as in MRR).

    Exactness: position weights and the IDCG table are 9-dp literals
    from `ndcg_weights` (no engine log2 at query time); per-query DCG
    decimal-sums weight literals; per-label means decimal-sum the 6-dp
    per-query scores. One keyed rank window, broadcast label counts,
    no new joins beyond the shared frame.
    """
    from time_series_data_trimmer_spark.functions.rounding import rd

    ranked, own = _lsh_ranked_candidates(
        df, bits, tables, id_col, vec_col, seed, dim, label_col
    )
    ws, idcg = ndcg_weights(k)
    warr = F.array(*[F.lit(w) for w in ws])
    iarr = F.array(*[F.lit(v) for v in idcg])
    term = F.when(
        (F.col("n_lbl") == F.col("q_lbl")) & (F.col("__rk") <= k),
        F.element_at(warr, F.col("__rk")).cast("decimal(38,9)"),
    ).otherwise(F.lit(0).cast("decimal(38,9)"))
    dcg = ranked.groupBy("vid").agg(F.sum(term).alias("__dcg"))
    cnt = df.groupBy(F.col(label_col).alias("q_lbl")).agg(
        F.count(F.lit(1)).alias("__c")
    )
    m = F.least(F.lit(k), F.col("__c") - 1).cast("int")
    per_q = (
        own.join(F.broadcast(cnt), "q_lbl")
        .join(dcg.hint("shuffle_hash"), "vid", "left")
        .select(
            "vid",
            "q_lbl",
            F.when(
                m >= 1,
                rd(
                    F.coalesce(F.col("__dcg"), F.lit(0).cast("decimal(38,9)"))
                    .cast("double")
                    / F.element_at(iarr, m),
                    6,
                ),
            ).alias("__ndcg"),
        )
    )
    agg = per_q.groupBy("q_lbl").agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.sum((F.col("__ndcg") == 0.0).cast("long")).alias("n_zero"),
        F.sum(F.col("__ndcg").cast("decimal(38,6)")).alias("__sum"),
    )
    return agg.select(
        F.col("q_lbl").alias(label_col),
        "n_queries",
        "n_zero",
        rd(
            F.col("__sum").cast("double") / F.col("n_queries").cast("double"), 6
        ).alias("ndcg"),
    )


def mmr_diversify(
    scored: DataFrame,
    k: int = 10,
    lam: float = 0.7,
    query_col: str = "query_id",
    id_col: str = "vec_id",
    rel_col: str = "rel",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998): greedily pick, per query, the candidate maximizing
    λ·rel(c) − (1−λ)·max_{s∈selected} cos(c, s) — the diversification
    pass retrieval pipelines run AFTER top-k so near-duplicate hits
    don't crowd the context window.

    Execution shape: the greedy recurrence is SEQUENTIAL in k, so it
    cannot be a window or a join — but per query the shortlist is
    BOUNDED (the upstream top-k), so the selection runs as one
    Catalyst higher-order `F.aggregate` fold over the query's
    collected candidates (the DTW precedent: per-key bounded arrays +
    fold = codegen, no Python, no driver loop). The candidate-pair
    cosines are precomputed DISTRIBUTEDLY first (a query-keyed
    shortlist self-join — n² per query, bounded by the shortlist) and
    shipped into the fold as one map<"a|b", cos> per query: the fold's
    k unrolled steps only LOOK UP sims, they never expand a
    dim-element dot product — the first form inlined `decimal_dot`
    per (step × candidate × selected) and spent ~14 s in codegen
    compilation alone, constant but wasteful; this form's expression
    tree is O(k · shortlist) lookups, measured ~4× faster and still
    flat in corpus size. All cosines are the repo's decimal-exact
    dot, 6-dp rounded, tie-break ascending id — the oracle replays
    the greedy walk step for step from the same pair-cosine table.

    ``scored`` rows: (query_col, id_col, rel_col, vec_col) — the
    candidate shortlist WITH vectors (bounded per query).
    """
    from time_series_data_trimmer_spark.functions.rounding import rd

    lam_c = F.lit(float(lam))
    a = scored.select(
        F.col(query_col),
        F.col(id_col).alias("__ia"),
        F.col(vec_col).alias("__va"),
    )
    b = scored.select(
        F.col(query_col),
        F.col(id_col).alias("__ib"),
        F.col(vec_col).alias("__vb"),
    )
    sim_c = rd(
        decimal_dot(F.col("__va"), F.col("__vb"))
        / (
            F.sqrt(decimal_dot(F.col("__va"), F.col("__va")))
            * F.sqrt(decimal_dot(F.col("__vb"), F.col("__vb")))
        ),
        6,
    )
    pair = (
        a.join(b.hint("shuffle_hash"), query_col)
        .filter(F.col("__ia") != F.col("__ib"))
        .select(
            F.col(query_col),
            F.concat_ws(
                "|", F.col("__ia").cast("string"), F.col("__ib").cast("string")
            ).alias("__k"),
            sim_c.alias("__s"),
        )
    )
    simmap = pair.groupBy(query_col).agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("__k"), F.col("__s")))
        ).alias("__sims")
    )
    cand = scored.groupBy(query_col).agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col(id_col).alias("id"), rd(F.col(rel_col), 6).alias("rel")
                )
            )
        ).alias("__cand")
    )
    # r14: the fold below is the query's heaviest per-row work (k
    # unrolled argmax steps × shortlist sim lookups per query row), but
    # the frame is one narrow row per query — AQE coalesces the join
    # output to ONE partition on bytes alone (profiled: a single 2.1 s
    # task while 31 cores idle). Spreading on the query key pins the
    # fold's parallelism; the extra exchange moves only |queries| rows.
    per_q = spread(cand.join(simmap.hint("shuffle_hash"), query_col), query_col)

    def step(acc, _i):
        def mmr_score(c):
            max_sim = F.when(
                F.size(acc["sel"]) == 0, F.lit(0.0)
            ).otherwise(
                F.array_max(
                    F.transform(
                        acc["sel"],
                        lambda sid: F.element_at(
                            F.col("__sims"),
                            F.concat_ws(
                                "|", c["id"].cast("string"), sid.cast("string")
                            ),
                        ),
                    )
                )
            )
            return rd(lam_c * c["rel"] - (F.lit(1.0) - lam_c) * max_sim, 6)

        best = F.element_at(
            F.array_sort(
                F.transform(
                    acc["rem"],
                    lambda c: F.struct(
                        (-mmr_score(c)).alias("ns"),
                        c["id"].alias("id"),
                        c["rel"].alias("rel"),
                    ),
                )
            ),
            1,
        )
        return F.struct(
            F.concat(acc["sel"], F.array(best["id"])).alias("sel"),
            F.filter(acc["rem"], lambda c: c["id"] != best["id"]).alias("rem"),
        )

    init = F.struct(
        F.array().cast("array<bigint>").alias("sel"),
        F.col("__cand").alias("rem"),
    )
    steps = F.sequence(F.lit(1), F.least(F.lit(int(k)), F.size("__cand")))
    folded = per_q.select(
        F.col(query_col),
        F.aggregate(steps, init, step, lambda acc: acc["sel"]).alias("__sel"),
    )
    return folded.select(
        F.col(query_col),
        F.posexplode("__sel").alias("mmr_rank0", id_col),
    ).select(
        query_col,
        F.col(id_col),
        (F.col("mmr_rank0") + 1).cast("int").alias("mmr_rank"),
    )
