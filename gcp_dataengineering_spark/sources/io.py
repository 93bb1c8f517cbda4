"""Sources & sinks — SURVEY.md §2.1 (S1-S11).

Reimplements the reference's write protocol on plain Spark:

- snapshot overwrite: ``coalesce(8).write.mode('overwrite').parquet``
  (``stage_1_hcp_channel_all_hardcode.py:191, 1093``)
- versioned history: probe max(version), stamp version = last+1,
  ``write.partitionBy('version').mode('append')``
  (``stage_1:208-222, 1110-1125``)
- audit rows: list-of-dicts → createDataFrame → append parquet
  (``stage_1:1240-1258``)
- CSV directory → Parquet (corrected version of
  ``Python_Scripts/csv_to_parquet.py`` — the original is misnamed
  and passes directories to single-file pandas APIs; this one is a
  distributed directory-batch converter)

Scale notes: ``coalesce(8)`` caps output files per snapshot exactly
as the reference does; at 100 TB replace with a row-count-aware
repartition (kept as a parameter). The version probe reads only
parquet partition directories (a metadata-only listing on the
``version=N`` layout), not data.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timezone

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F


def write_snapshot(df: DataFrame, path: str, num_files: int = 8) -> None:
    """S3 — current-snapshot overwrite, 8 output files
    (``stage_1:191, 1093``)."""
    df.coalesce(num_files).write.mode("overwrite").parquet(path)


def read_max_version(spark: SparkSession, path: str) -> int:
    """S2+S11 — max(version) probe of the history table
    (``stage_1:209-211, 1111-1113``). Returns 0 when the table does
    not exist yet (the reference's Athena existence check,
    ``stage_1:195-208``, becomes a filesystem check).

    On a ``partitionBy('version')`` layout the directory listing
    alone carries the answer; we still go through the DataFrame agg
    (partition pruning makes it metadata-cheap) to stay engine-pure.
    """
    if not os.path.exists(path):
        return 0
    try:
        hist = spark.read.parquet(path)
    except Exception:
        return 0
    if "version" not in hist.columns:
        return 0
    v = hist.agg(F.max("version")).first()[0]
    return int(v) if v is not None else 0


def write_versioned_history(
    df: DataFrame, spark: SparkSession, path: str, num_files: int = 8
) -> int:
    """S4 — append-only versioned history: stamp version = max+1 and
    append partitioned by version (``stage_1:212-222, 1114-1125``).
    Returns the version written."""
    version = read_max_version(spark, path) + 1
    (
        df.withColumn("version", F.lit(version))
        .coalesce(num_files)
        .write.partitionBy("version")
        .mode("append")
        .parquet(path)
    )
    return version


def audit_rows(
    spark: SparkSession,
    table_name: str,
    rows_updated: int,
    status: str,
    etl_script: str,
    etl_layer: str,
    batch_id: str,
    start_time: datetime | None = None,
    end_time: datetime | None = None,
) -> DataFrame:
    """S5+S6 — audit-log rows (schema at ``stage_1:1240-1257``,
    FIXTURES.md §B.15): local collection → createDataFrame."""
    now = datetime.now(timezone.utc)
    row = Row(
        table_name=table_name,
        rows_updated=rows_updated,
        log_id_status=status,
        script_exe_start_time=start_time or now,
        script_exe_end_time=end_time,
        etl_script=etl_script,
        etl_layer=etl_layer,
        batch_id=batch_id,
    )
    # rows_updated is bigint: at the target scale table counts exceed
    # 2^31 and an int audit column would overflow the audit path
    schema = (
        "table_name string, rows_updated bigint, log_id_status string, "
        "script_exe_start_time timestamp, script_exe_end_time timestamp, "
        "etl_script string, etl_layer string, batch_id string"
    )
    return spark.createDataFrame([row], schema=schema)


def append_audit(df: DataFrame, path: str) -> None:
    """S5 — plain append sink (``stage_1:1247, 1258``)."""
    df.write.mode("append").parquet(path)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    num_buckets: int = 32,
    sort_col: str | None = None,
) -> None:
    """Bucketed managed-table sink: co-locates later joins/aggs on
    `bucket_col` without a shuffle (Spark reads bucket metadata and
    skips the exchange). The 100 TB lever for repeated fact-fact
    joins on the same key — pay the shuffle once at write time.
    Requires a warehouse dir (spark.sql.warehouse.dir)."""
    w = df.write.bucketBy(num_buckets, bucket_col)
    if sort_col:
        w = w.sortBy(sort_col)
    w.mode("overwrite").format("parquet").saveAsTable(table_name)


def csv_dir_to_parquet(
    spark: SparkSession, csv_dir: str, out_dir: str, header: bool = True
) -> None:
    """S7 — corrected, distributed version of
    ``Python_Scripts/csv_to_parquet.py:5-19`` (the original's
    ``parquet_to_csv`` name is backwards and it feeds directories to
    single-file pandas APIs). Converts every ``*.csv`` in csv_dir to
    a parquet dataset under out_dir, schema-inferred."""
    for name in sorted(os.listdir(csv_dir)):
        if not name.lower().endswith(".csv"):
            continue
        src = os.path.join(csv_dir, name)
        dst = os.path.join(out_dir, name[:-4] + ".parquet")
        spark.read.csv(src, header=header, inferSchema=True).write.mode(
            "overwrite"
        ).parquet(dst)


def write_sorted_layout(
    df: DataFrame,
    path: str,
    sort_cols: list[str],
    num_files: int | None = None,
) -> None:
    """Range-partitioned, sorted parquet layout: rows are range-split
    across files on ``sort_cols`` (repartitionByRange — sampled range
    boundaries, so files get disjoint key ranges) and sorted within
    each file (sortWithinPartitions — row groups get tight min/max).

    This is the data-layout lever for scan-heavy access: parquet
    footers carry per-row-group min/max for the sort columns, so a
    point or range predicate on them skips every file/row-group whose
    range doesn't overlap — the reader does the pruning for free, no
    index service needed. (The single-dimension cousin of Z-ordering;
    for one predicate column it strictly dominates.) Pay one range
    shuffle at write time; every later selective scan reads only the
    overlapping fraction — at 100 TB the difference between a full
    scan and a few files.

    ``num_files`` bounds the file count (and thus the minimum
    prunable granule); default leaves the session's shuffle
    parallelism in charge."""
    part = df.repartitionByRange(
        *([num_files] if num_files else []), *[F.col(c) for c in sort_cols]
    )
    part.sortWithinPartitions(*sort_cols).write.mode("overwrite").parquet(path)


def read_jsonl(
    spark: SparkSession, path: str, schema: str | None = None
) -> DataFrame:
    """JSONL (one JSON object per line) source — the lingua franca of
    LLM corpus interchange. ALWAYS pass ``schema`` in production: with
    it the read is a single streaming pass (and corrupt lines land in
    the ``_corrupt_record`` column instead of failing the job); without
    it Spark runs a full inference scan over the data first — at
    100 TB that is two reads of the corpus, one of them wasted."""
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    return r.json(path)


def write_jsonl(df: DataFrame, path: str, compression: str | None = "gzip") -> None:
    """JSONL sink, gzip-compressed by default (line-oriented gzip
    members split poorly — for re-ingestion at scale prefer many
    moderate files over few huge ones; the writer emits one file per
    partition, so partition count IS the file-count knob)."""
    w = df.write.mode("overwrite")
    if compression:
        w = w.option("compression", compression)
    w.json(path)


def read_json(path: str):
    """The JSON document at ``path``, or None when there is none."""
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        return json.load(fh)


def write_json_atomic(path: str, obj) -> None:
    """Publish ``obj`` as JSON at ``path`` so readers see the old file
    or the new one, never a torn write: write-aside to ``path.tmp``,
    flush + fsync, then ``os.replace`` (atomic on POSIX). Every
    manifest and model meta in the package publishes through here."""
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(obj, fh)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, path)


def compact_small_files(
    spark: SparkSession, path: str, target_mb: int = 128
) -> int:
    """Small-files maintenance: rewrite a parquet dataset into
    ~target_mb files and atomically swap it in. Streaming appends,
    per-batch ingest and over-parallel writes all accrete kilobyte
    files; at scale the file COUNT (driver listing, task scheduling,
    open/seek overhead) dominates long before the bytes do.

    Reads the dataset, coalesces to ceil(bytes / target) partitions
    (coalesce, not repartition — shrinking file counts needs no
    shuffle), writes next to the original, then swaps via rename.
    Returns the new file count.

    Partition-aware: a hive-partitioned layout (``key=value``
    subdirectories — e.g. write_versioned_history's ``version=N``)
    is compacted LEAF BY LEAF, preserving the directory structure —
    rewriting it flat would both break partition pruning and, after
    the next partitioned append, make readers silently drop the
    compacted rows (mixed flat+partitioned layouts resolve to the
    partitioned files only).

    This is the local-filesystem form (os.walk sizing, os.rename
    swap); on an object store the sizing comes from the store's
    listing API and the swap is a manifest/metastore pointer flip —
    the Spark plan (scan → coalesce → write) is identical."""
    import shutil

    def _recover(p: str) -> None:
        # crash hygiene: a leftover tmp is garbage (rewrite never
        # finished — remove); a leftover old with the dataset missing
        # means we crashed between the two renames — roll back; a
        # leftover old WITH the dataset present means only the final
        # cleanup was missed — finish it.
        tmp, old = p.rstrip("/") + "._compact_tmp", p.rstrip("/") + "._compact_old"
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        if os.path.exists(old):
            if os.path.exists(p):
                shutil.rmtree(old)
            else:
                os.rename(old, p)

    def _leaf_dirs(p: str) -> list[str]:
        subs = [
            d for d in sorted(os.listdir(p))
            if os.path.isdir(os.path.join(p, d)) and "=" in d
            and "._compact" not in d
        ]
        if not subs:
            return [p]
        out: list[str] = []
        for d in subs:
            out.extend(_leaf_dirs(os.path.join(p, d)))
        return out

    def _compact_leaf(leaf: str) -> int:
        total = sum(
            os.path.getsize(os.path.join(leaf, f))
            for f in os.listdir(leaf)
            if f.endswith(".parquet")
        )
        n = max(1, -(-total // (target_mb * 1024 * 1024)))
        tmp = leaf.rstrip("/") + "._compact_tmp"
        old = leaf.rstrip("/") + "._compact_old"
        spark.read.parquet(leaf).coalesce(n).write.mode("overwrite").parquet(tmp)
        os.rename(leaf, old)
        os.rename(tmp, leaf)
        shutil.rmtree(old)
        return n

    # recover the whole tree first: a crashed LEAF compaction leaves
    # only `<leaf>._compact_old` behind (the leaf itself was renamed
    # away), so the orphan must be found by walking, not by listing
    # surviving leaves
    _recover(path)
    for root, dirs, _files in os.walk(path):
        for d in list(dirs):
            if d.endswith("._compact_old") or d.endswith("._compact_tmp"):
                _recover(os.path.join(root, d.rsplit("._compact_", 1)[0]))
    total_files = 0
    for leaf in _leaf_dirs(path):
        total_files += _compact_leaf(leaf)
    return total_files


def read_history(
    spark: SparkSession, path: str, schema: str | None = None
) -> DataFrame:
    """Schema-drift-tolerant read of the whole versioned history.

    The reference's crawler runs ``UpdateBehavior: UPDATE_IN_DATABASE``
    (``stage_1:1163``): vintages are EXPECTED to drift — new columns
    appear, ints widen to longs. A plain ``spark.read.parquet`` over
    such a history fails at execution time (INT64 file vs the int
    schema inferred from an older file), and ``mergeSchema`` refuses
    int-vs-bigint outright (CANNOT_MERGE_SCHEMAS). Two supported
    modes:

    - ``schema`` given (the CURRENT contract, e.g. conform.py's
      target): the parquet reader is driven by the contract —
      old-vintage int32 columns upcast to long at scan time, columns
      a vintage lacks come back as typed NULLs, extras are ignored.
      This handles every drift the crawler's UPDATE_IN_DATABASE can
      produce. The ``version`` partition column may be included in
      the contract or omitted (Spark appends partition columns).
    - ``schema`` None: ``mergeSchema`` read — handles added/removed
      columns (union schema, NULL-filled) but NOT type widening;
      fine for histories whose vintages only grew columns.
    """
    reader = spark.read
    if schema is not None:
        return reader.schema(schema).parquet(path)
    return reader.option("mergeSchema", "true").parquet(path)


def read_history_version(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    schema: str | None = None,
) -> DataFrame:
    """Time travel over the versioned history: read one version's
    rows (default: the latest). The history is partitioned by
    ``version`` (write_versioned_history), so the equality filter is
    a PARTITION filter — Spark lists and reads only that version's
    directory; every other snapshot costs nothing. The poor-man's
    table format: append-only versions + partition pruning give you
    reproducible as-of reads without a transaction log. Pass
    ``schema`` (the current contract) to read cleanly across drifted
    vintages — see read_history."""
    v = version if version is not None else read_max_version(spark, path)
    return read_history(spark, path, schema).filter(F.col("version") == v)


def zorder_code(col_x, col_y, bits: int = 12):
    """Morton/Z-order interleave of two RANGE-NORMALIZED integer
    columns (each already in [0, 2^bits)): bit i of x lands at bit
    2i, bit i of y at 2i+1. Pure bitwise expression — codegen'd, no
    UDF."""
    code = F.lit(0).cast("bigint")
    for i in range(bits):
        code = (
            code
            + F.shiftleft(F.shiftright(col_x, i).bitwiseAND(F.lit(1)), 2 * i).cast("bigint")
            + F.shiftleft(F.shiftright(col_y, i).bitwiseAND(F.lit(1)), 2 * i + 1).cast("bigint")
        )
    return code


def write_zorder_layout(
    df: DataFrame,
    path: str,
    col_x: str,
    col_y: str,
    bits: int = 12,
    num_files: int = 16,
) -> None:
    """Two-dimensional data clustering: range-normalize both integer
    columns into 2^bits buckets (min/max from a 1-row broadcast agg —
    stays in the plan, no driver action), compute the Morton
    interleave, range-partition + sort files by it. Each output file
    then covers a RECTANGLE of (x, y) space instead of a stripe, so
    parquet min/max footers prune selective predicates on EITHER
    column (or both) — the multi-column generalization of
    write_sorted_layout, and the reason warehouse engines Z-ORDER
    their fact tables. One range shuffle at write time."""
    stats = df.agg(
        F.min(col_x).alias("_xmin"), F.max(col_x).alias("_xmax"),
        F.min(col_y).alias("_ymin"), F.max(col_y).alias("_ymax"),
    )
    top = (1 << bits) - 1
    norm = lambda c, lo, hi: (
        ((F.col(c).cast("bigint") - F.col(lo)) * top)
        / F.greatest(F.col(hi) - F.col(lo), F.lit(1))
    ).cast("bigint")
    coded = (
        df.crossJoin(F.broadcast(stats))
        .withColumn(
            "_z",
            zorder_code(
                norm(col_x, "_xmin", "_xmax"), norm(col_y, "_ymin", "_ymax"), bits
            ),
        )
        .drop("_xmin", "_xmax", "_ymin", "_ymax")
    )
    (
        coded.repartitionByRange(num_files, F.col("_z"))
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )


def profile_table(df: DataFrame, rsd: float = 0.05) -> DataFrame:
    """One-pass data profile: per column — null count, approximate
    distinct (HLL), and min/max rendered as strings (so every type
    fits one output schema). The ingest-acceptance check you run on a
    new feed before trusting it.

    ALL columns' aggregates evaluate in a SINGLE aggregation pass
    (one job, map-side combined, no shuffle beyond the 1-row
    reduction), then the 1×(4·n_cols) row is unpivoted driver-side —
    profiling a 100 TB table costs exactly one scan."""
    aggs = [F.count(F.lit(1)).alias("_n_rows")]
    for c in df.columns:
        aggs += [
            F.sum(F.col(c).isNull().cast("bigint")).alias(f"_nulls_{c}"),
            F.approx_count_distinct(c, rsd).alias(f"_dist_{c}"),
            # aggregate on the NATIVE type, render to string after —
            # min/max over a string cast would be lexicographic
            # ('10' < '2', '-5' < '-10') on every numeric column
            F.min(F.col(c)).cast("string").alias(f"_min_{c}"),
            F.max(F.col(c)).cast("string").alias(f"_max_{c}"),
        ]
    row = df.agg(*aggs).first()
    dtypes = dict(df.dtypes)
    out = [
        (
            c,
            dtypes[c],
            int(row["_n_rows"]),
            # sum over zero rows is NULL (count is 0) — an empty feed
            # must profile as zeros, not crash
            int(row[f"_nulls_{c}"] or 0),
            int(row[f"_dist_{c}"] or 0),
            row[f"_min_{c}"],
            row[f"_max_{c}"],
        )
        for c in df.columns
    ]
    return df.sparkSession.createDataFrame(
        out,
        "column string, dtype string, n_rows bigint, n_nulls bigint, "
        "approx_distinct bigint, min_str string, max_str string",
    )
