"""Corpus-layout management: partitioned writes and small-file
compaction.

At 100 TB the TABLE LAYOUT is as much a part of query performance as
the plan: a corpus partitioned by a low-cardinality column prunes whole
directories before the scan starts (PartitionFilters — cheaper than
row-group pruning, which still opens footers), and streaming/append
sinks accumulate thousands of KB-sized files whose per-file open cost
eventually dominates scans (the classic small-file problem).
Reference: the engine's own append-mode streaming sinks
(streaming/stream_ops.py) produce exactly this layout debt.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: list[str],
    max_records_per_file: int | None = None,
) -> None:
    """Write a corpus hive-partitioned by ``partition_by`` (one
    directory per value combination). Readers filtering on those
    columns prune directories at PLANNING time — `PartitionFilters` in
    the scan, zero I/O for excluded partitions — which row-group
    min/max pruning cannot match (it still opens every file footer).

    Choose LOW-cardinality columns (source, language, date bucket):
    each combination becomes a directory, and a high-cardinality
    partition key recreates the small-file problem this module's
    `compact_directory` exists to fix.
    """
    writer = df.write.mode("overwrite")
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", int(max_records_per_file))
    writer.partitionBy(*partition_by).parquet(path)


def write_range_sorted(
    df: DataFrame,
    path: str,
    sort_cols: list[str],
    num_files: int | None = None,
    max_records_per_file: int | None = None,
) -> None:
    """Write a corpus GLOBALLY RANGE-SORTED on ``sort_cols``:
    `repartitionByRange` splits the key space into contiguous,
    non-overlapping ranges (one per output file) and
    `sortWithinPartitions` orders rows inside each, so every file's
    parquet min/max stats for the leading sort column are DISJOINT.

    Why this is a first-class layout at 100 TB: hive partitioning
    (`write_partitioned`) only works for low-cardinality keys; for a
    high-cardinality key (doc_id, timestamp, user_id) the sorted-range
    layout is the zone-map equivalent — a point or range predicate on
    the sort key maps to the few files whose [min, max] intersect it,
    and parquet row-group pruning inside those files cuts further. The
    two compose: partition by the coarse key, range-sort inside each
    partition.

    Range boundaries come from Spark's reservoir sampling of the key
    distribution (`spark.sql.execution.rangeExchange.sampleSizePerPartition`),
    so skewed keys still land in balanced files — the property a naive
    fixed-width bucketing of the key space loses.
    """
    num_files = num_files or df.sparkSession.sparkContext.defaultParallelism
    cols = [df[c] for c in sort_cols]
    out = df.repartitionByRange(int(num_files), *cols).sortWithinPartitions(*cols)
    writer = out.write.mode("overwrite")
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", int(max_records_per_file))
    writer.parquet(path)


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int = 8,
    num_files: int | None = None,
) -> None:
    """Write a corpus Z-ORDERED on ``cols``: each column min-max scales
    into a ``bits``-bit bucket, buckets BIT-INTERLEAVE into one Morton
    key, and the data range-sorts on that key — so EVERY listed column
    gets locality (moderately tight per-file min/max), where a plain
    range sort gives one column perfect zone maps and the others none.

    The multi-dimensional complement to `write_range_sorted`: the
    layout for corpora probed by more than one high-cardinality
    predicate (user AND time, doc AND length). Per-column ranges are
    wider than a dedicated single-column sort — the classic Z-order
    trade (N dimensions each at ~1/2^(bits/N) selectivity instead of
    one at 1/2^bits).

    Column min/max come from ONE scan-side aggregate (a bounded 1-row
    collect); the Morton key is a pure codegen expression
    (shift/mask/or per bit); the write is `repartitionByRange` on the
    key — no UDF, no global sort.
    """
    from pyspark.sql import functions as F

    num_files = num_files or df.sparkSession.sparkContext.defaultParallelism
    aggs = []
    for c in cols:
        aggs += [
            F.min(F.col(c).cast("double")).alias(f"mn_{c}"),
            F.max(F.col(c).cast("double")).alias(f"mx_{c}"),
        ]
    row = df.agg(*aggs).first()
    top = (1 << bits) - 1
    bucket_cols = []
    for c in cols:
        mn, mx = row[f"mn_{c}"], row[f"mx_{c}"]
        span = (mx - mn) or 1.0
        b = F.floor(
            (F.col(c).cast("double") - F.lit(mn)) / F.lit(span) * F.lit(float(top))
        ).cast("long")
        # clamp: the max value lands exactly on top, rounding slack aside
        bucket_cols.append(F.least(F.greatest(b, F.lit(0)), F.lit(top)))
    from time_series_data_trimmer_spark.operators.layout import morton_interleave

    z = morton_interleave(bucket_cols, bits)
    out = (
        df.withColumn("__zkey", z)
        .repartitionByRange(int(num_files), F.col("__zkey"))
        .sortWithinPartitions("__zkey")
        .drop("__zkey")
    )
    out.write.mode("overwrite").parquet(path)


def parquet_key_ranges(path: str, column: str) -> list[tuple[str, object, object]]:
    """Per-file (file, min, max) of ``column`` from the parquet footer
    statistics — the zone map a range-sorted layout creates. Reads
    footers only, never data pages."""
    import pyarrow.parquet as pq

    out = []
    for root, _dirs, files in os.walk(path):
        for f in sorted(files):
            if not f.endswith(".parquet"):
                continue
            fp = os.path.join(root, f)
            md = pq.ParquetFile(fp).metadata
            lo, hi = None, None
            for rg in range(md.num_row_groups):
                grp = md.row_group(rg)
                for ci in range(grp.num_columns):
                    col = grp.column(ci)
                    if col.path_in_schema == column and col.statistics is not None:
                        s = col.statistics
                        # writers may emit a statistics object WITHOUT
                        # min/max (e.g. long binary columns) — skip it,
                        # never compare against None
                        if not s.has_min_max:
                            continue
                        lo = s.min if lo is None or s.min < lo else lo
                        hi = s.max if hi is None or s.max > hi else hi
            if lo is not None:
                out.append((fp, lo, hi))
    return out


def parquet_file_stats(path: str) -> tuple[int, int]:
    """(file count, total bytes) of the parquet data files under a
    directory tree — the small-file diagnostic."""
    n, total = 0, 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                total += os.path.getsize(os.path.join(root, f))
    return n, total


def compact_directory(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    partition_by: list[str] | None = None,
    finalize_streaming_sink: bool = False,
) -> tuple[int, int]:
    """Rewrite a parquet directory into ~``target_file_bytes`` files:
    the maintenance pass that follows append-mode streaming sinks
    (thousands of KB-sized commits) before the corpus is scanned at
    scale. Returns (files before, files after).

    Repartition count = ceil(current bytes / target) — based on the
    ACTUAL on-disk size, not row counts, so compression ratio is
    accounted for. The rewrite stages into a sibling directory, then
    swaps via two renames; the original survives (as the staged dir or
    the ``.__compact_old__`` backup) until the swap completes, and the
    next invocation AUTO-RECOVERS any crash residue: stranded staging
    is discarded, a stranded backup is restored if the corpus path is
    missing, cleaned up if the swap had finished.

    **Compaction FINALIZES a streaming sink.** A file-sink directory
    carries a ``_spark_metadata`` transaction log naming the exact files
    each micro-batch committed; the staged rewrite replaces those files
    and drops the log, so (a) a restarted streaming query would append
    against a checkpoint whose sink log references deleted files, and
    (b) any metadata-log-aware reader would see none of the compacted
    data — silent loss. The compacted directory is therefore
    BATCH-READ-ONLY (plain ``spark.read.parquet`` file listing, which
    sees exactly the compacted files). To make that contract explicit,
    compacting a directory containing ``_spark_metadata`` raises unless
    ``finalize_streaming_sink=True``, which asserts the writing query is
    permanently stopped; the stale log is then removed with the old
    files. (r4 advisor finding.)
    """
    import math
    import shutil

    staged = path.rstrip("/") + ".__compact_tmp__"
    old = path.rstrip("/") + ".__compact_old__"
    # crash recovery BEFORE doing anything: a stranded staging dir is an
    # incomplete write (safe to discard); a stranded backup with the
    # corpus path missing means we died mid-swap — restore the backup;
    # a stranded backup WITH the corpus present means the swap finished
    # and only cleanup was lost.
    if os.path.exists(staged):
        shutil.rmtree(staged)
    if os.path.exists(old):
        if os.path.exists(path):
            shutil.rmtree(old)
        else:
            os.rename(old, path)

    # the sink guard runs AFTER recovery: a finalize run that died
    # mid-swap leaves the corpus path missing, and a pre-recovery check
    # would see no _spark_metadata and let a later UNFLAGGED call
    # finalize the restored sink silently (r5 review finding)
    meta_log = os.path.join(path, "_spark_metadata")
    if os.path.exists(meta_log) and not finalize_streaming_sink:
        raise ValueError(
            f"{path} is a streaming file sink (_spark_metadata present); "
            "compaction drops the sink log and the directory becomes "
            "batch-read-only. Stop the writing query permanently and pass "
            "finalize_streaming_sink=True to proceed."
        )

    before_n, before_bytes = parquet_file_stats(path)
    if before_n == 0:
        # a streaming sink can legitimately hold only _spark_metadata
        # and no data files yet; nothing to compact (and schema
        # inference over zero files would throw)
        return (0, 0)
    n_files = max(1, math.ceil(before_bytes / target_file_bytes))
    df = spark.read.parquet(path)
    if partition_by:
        # co-locate each partition value: round-robin repartition would
        # spread every value over all n_files tasks and partitionBy
        # would then write up to n_files × n_values tiny files — WORSE
        # than the input
        df = df.repartition(n_files, *partition_by)
    else:
        df = df.repartition(n_files)
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(staged)
    os.rename(path, old)
    os.rename(staged, path)
    shutil.rmtree(old)
    after_n, _ = parquet_file_stats(path)
    return before_n, after_n


def read_documents(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus ingestion across the formats LLM pipelines actually ship:
    ``parquet`` (the fast path), ``jsonl`` (the interchange format —
    one JSON object per line, .gz transparently decompressed by
    Spark's text source), ``csv`` (header + quoted text), ``orc``
    (the other columnar lake format — same predicate-pushdown /
    column-pruning story as parquet via Spark's native vectorized ORC
    reader, common when the upstream warehouse is Hive/Trino-managed).

    Normalizes to the engine's documents contract: ``doc_id`` long,
    ``text`` string (missing/null text kept as NULL — the dedup/
    quality operators decide policy, ingestion never drops rows), any
    extra columns preserved. JSONL parsing is schema-inferred per
    Spark's JSON source with multiLine=false — line-splittable, so a
    100 TB corpus parallelizes by byte range exactly like parquet.
    """
    if fmt == "parquet":
        df = spark.read.parquet(path)
    elif fmt == "orc":
        df = spark.read.orc(path)
    elif fmt == "jsonl":
        df = spark.read.json(path)
    elif fmt == "csv":
        df = spark.read.csv(path, header=True, inferSchema=True, escape='"')
    else:
        raise ValueError(f"unsupported corpus format: {fmt!r}")
    from pyspark.sql import functions as F

    if id_col in df.columns:
        df = df.withColumn(id_col, F.col(id_col).cast("long"))
    if text_col in df.columns:
        # jsonl/csv inference can type an all-null or all-numeric text
        # field as something other than string; downstream digests and
        # shingles assume string
        df = df.withColumn(text_col, F.col(text_col).cast("string"))
    return df


def corpus_diff(
    old: "DataFrame",
    new: "DataFrame",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> "DataFrame":
    """Snapshot diff between two corpus versions — the dataset-
    versioning primitive behind "what changed between crawl N and
    crawl N+1": per doc id, ``added`` (only in new), ``removed``
    (only in old), ``changed`` (same id, different content digest),
    or ``unchanged``.

    Content identity is the md5 digest (sentinel-coalesced so NULL
    text is a value, matching the dedup family's convention), so text
    bytes never shuffle — the full-outer join moves (id, 32-hex)
    rows only. One shuffle-hash join keyed on the id; at 100 TB both
    sides partition-prune if snapshots are stored id-bucketed (the
    `write_partitioned` layout), and AQE upgrades to broadcast when
    one side is a small incremental batch.
    """
    from pyspark.sql import functions as F

    def keyed(df, tag):
        return df.select(
            F.col(id_col),
            F.coalesce(F.md5(text_col), F.lit("<NULL>")).alias(f"__d_{tag}"),
        )

    o = keyed(old, "o")
    n = keyed(new, "n")
    j = o.join(n.hint("shuffle_hash"), id_col, "full_outer")
    status = (
        F.when(F.col("__d_o").isNull(), F.lit("added"))
        .when(F.col("__d_n").isNull(), F.lit("removed"))
        .when(F.col("__d_o") == F.col("__d_n"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return j.select(F.col(id_col), status.alias("status"))


def write_sharded_with_manifest(
    df: DataFrame,
    out_dir: str,
    n_shards: int = 8,
    id_col: str = "doc_id",
) -> DataFrame:
    """Sharded corpus EXPORT with a signed manifest — the handoff
    contract as a sink: documents land in ``n_shards`` deterministic
    md5-hash shard directories (``shard=K/`` hive partitions, so the
    receiver prunes to one shard without listing the rest), and
    ``_manifest.parquet`` beside them carries per-shard doc counts,
    token counts, and the order-insensitive content fingerprint. The
    receiver re-runs the same aggregation on what arrived and diffs
    ``n_shards`` rows to localize any dropped/duplicated/corrupted
    shard (tested round-trip INCLUDING a tamper-detection case in
    tests/test_corpus_io.py). Returns the manifest frame.

    Scale shape: one scan computes shard ids, fingerprint hashes and
    token counts; the write is a hive-partitioned parquet write keyed
    by the shard column (repartitioned on it, so each shard directory
    is written by its own tasks — no shard interleaving, no small-file
    spray); the manifest is an ``n_shards``-row aggregate.
    """
    from pyspark.sql import functions as F

    from time_series_data_trimmer_spark.operators.sampling import hash_u32
    from time_series_data_trimmer_spark.operators.text import token_count

    row_repr = F.concat_ws(
        "|",
        F.col(id_col).cast("string"),
        F.coalesce(F.col("text"), F.lit("")),
        F.coalesce(F.col("lang"), F.lit("")),
        F.col("n_chars").cast("string"),
    )
    tagged = df.withColumn(
        "shard",
        (hash_u32(F.col(id_col), "tsdt|shard") % int(n_shards)).cast("int"),
    )
    (
        tagged.repartition("shard")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(os.path.join(out_dir, "data"))
    )
    manifest = (
        tagged.select(
            "shard",
            token_count(F.col("text")).cast("long").alias("__nt"),
            hash_u32(row_repr, "tsdt|fp").alias("__u"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("__nt").cast("long").alias("n_tokens"),
            (
                F.sum(F.col("__u").cast("decimal(38,0)"))
                % F.lit(1000000000000000000).cast("decimal(38,0)")
            )
            .cast("long")
            .alias("content_sum_mod"),
            F.min("__u").alias("content_min"),
            F.max("__u").alias("content_max"),
        )
    )
    manifest.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out_dir, "_manifest.parquet")
    )
    return manifest


def verify_shard_manifest(spark: SparkSession, out_dir: str) -> DataFrame:
    """Receiver side of `write_sharded_with_manifest`: recompute the
    manifest from the DATA that actually arrived and FULL-OUTER-join it
    against the shipped manifest — any row where the two sides disagree
    (or one is missing) names the damaged shard. Empty result = the
    handoff is bit-intact."""
    from pyspark.sql import functions as F

    from time_series_data_trimmer_spark.operators.sampling import hash_u32
    from time_series_data_trimmer_spark.operators.text import token_count

    data = spark.read.parquet(os.path.join(out_dir, "data"))
    row_repr = F.concat_ws(
        "|",
        F.col("doc_id").cast("string"),
        F.coalesce(F.col("text"), F.lit("")),
        F.coalesce(F.col("lang"), F.lit("")),
        F.col("n_chars").cast("string"),
    )
    got = (
        data.select(
            F.col("shard").cast("int").alias("shard"),
            token_count(F.col("text")).cast("long").alias("__nt"),
            hash_u32(row_repr, "tsdt|fp").alias("__u"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("__nt").cast("long").alias("n_tokens"),
            (
                F.sum(F.col("__u").cast("decimal(38,0)"))
                % F.lit(1000000000000000000).cast("decimal(38,0)")
            )
            .cast("long")
            .alias("content_sum_mod"),
            F.min("__u").alias("content_min"),
            F.max("__u").alias("content_max"),
        )
    )
    shipped = spark.read.parquet(os.path.join(out_dir, "_manifest.parquet"))
    g = got.select([F.col(c).alias(f"g_{c}") for c in got.columns])
    s = shipped.select([F.col(c).alias(f"s_{c}") for c in shipped.columns])
    j = g.join(s, g["g_shard"] == s["s_shard"], "full_outer")
    bad = (
        j.filter(
            F.col("g_shard").isNull()
            | F.col("s_shard").isNull()
            | (F.col("g_n_docs") != F.col("s_n_docs"))
            | (F.col("g_n_tokens") != F.col("s_n_tokens"))
            | (F.col("g_content_sum_mod") != F.col("s_content_sum_mod"))
            | (F.col("g_content_min") != F.col("s_content_min"))
            | (F.col("g_content_max") != F.col("s_content_max"))
        )
    )
    return bad.select(
        F.coalesce(F.col("g_shard"), F.col("s_shard")).alias("shard"),
        F.col("s_n_docs").alias("manifest_n_docs"),
        F.col("g_n_docs").alias("arrived_n_docs"),
        F.col("s_content_sum_mod").alias("manifest_fingerprint"),
        F.col("g_content_sum_mod").alias("arrived_fingerprint"),
    )
