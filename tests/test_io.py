"""Tests for the sources/sinks protocol (SURVEY.md §2.1)."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from gcp_dataengineering_spark.sources.io import (
    append_audit,
    audit_rows,
    csv_dir_to_parquet,
    read_max_version,
    write_snapshot,
    write_versioned_history,
)


def test_write_snapshot_eight_files(spark, tmp_path):
    df = spark.range(1000).withColumn("v", F.col("id") * 2)
    out = str(tmp_path / "snap")
    write_snapshot(df, out)
    files = glob.glob(os.path.join(out, "part-*.parquet"))
    assert 1 <= len(files) <= 8
    assert spark.read.parquet(out).count() == 1000
    # overwrite semantics
    write_snapshot(df.filter(F.col("id") < 10), out)
    assert spark.read.parquet(out).count() == 10


def test_versioned_history_protocol(spark, tmp_path):
    """stage_1:208-222 — version probe + stamp + partitioned append."""
    hist = str(tmp_path / "hist")
    df = spark.range(5).withColumn("x", F.lit("a"))
    assert read_max_version(spark, hist) == 0
    assert write_versioned_history(df, spark, hist) == 1
    assert write_versioned_history(df, spark, hist) == 2
    assert read_max_version(spark, hist) == 2
    # partition layout on disk
    assert os.path.isdir(os.path.join(hist, "version=1"))
    assert os.path.isdir(os.path.join(hist, "version=2"))
    loaded = spark.read.parquet(hist)
    assert loaded.count() == 10
    assert loaded.filter(F.col("version") == 2).count() == 5


def test_audit_rows(spark, tmp_path):
    from datetime import datetime, timedelta, timezone

    from gcp_dataengineering_spark.fixtures import FIXTURE_TABLES, ensure_parquet, fixture_path
    from gcp_dataengineering_spark.pipelines.digital import nvs_digital
    from gcp_dataengineering_spark.pipelines.tam import nvs_tam

    path = str(tmp_path / "audit")
    start = datetime(2024, 2, 29, 23, 59, 58, 123456, tzinfo=timezone(timedelta(hours=-5)))
    end = datetime(2024, 3, 1, 5, 0, 1, 7, tzinfo=timezone.utc)
    big = 2**31 + 7
    appends = [
        audit_rows(spark, "t1", 42, "COMPLETED", "script", "normalized", "b1"),
        audit_rows(spark, "t1", 0, "INITIATED", "script", "normalized", "b2"),
        audit_rows(spark, "t2", big, "COMPLETED", "script", "normalized", "b3", start, end),
    ]
    for i, rows in enumerate(appends, 1):
        append_audit(rows, path)
        # one data file per one-row append
        assert len(glob.glob(os.path.join(path, "part-*.parquet"))) == i
    df = spark.read.parquet(path)
    assert df.dtypes == [
        ("table_name", "string"), ("rows_updated", "bigint"), ("log_id_status", "string"),
        ("script_exe_start_time", "timestamp"), ("script_exe_end_time", "timestamp"),
        ("etl_script", "string"), ("etl_layer", "string"), ("batch_id", "string"),
    ]
    got = {
        r["batch_id"]: r for r in df.select(
            "batch_id", "rows_updated", "script_exe_end_time",
            F.unix_micros("script_exe_start_time").alias("start_us"),
            F.unix_micros("script_exe_end_time").alias("end_us"),
        ).collect()
    }
    assert {b: r["rows_updated"] for b, r in got.items()} == {"b1": 42, "b2": 0, "b3": big}
    # tz-aware instants survive to the microsecond; no end time is NULL
    epoch = datetime(1970, 1, 1, tzinfo=timezone.utc)
    assert got["b3"]["start_us"] == (start - epoch) // timedelta(microseconds=1)
    assert got["b3"]["end_us"] == (end - epoch) // timedelta(microseconds=1)
    assert got["b1"]["script_exe_end_time"] is None

    # the constant frames plan on the JVM, not as a parallelized
    # Python collection
    ensure_parquet()
    tables = {name: spark.read.parquet(fixture_path(name)) for name in FIXTURE_TABLES}
    pins = []
    frames = [appends[0], nvs_tam(spark, tables), nvs_digital(spark, tables, pins)]
    try:
        for frame in frames:
            plans = frame._jdf.queryExecution().toString()
            assert "ExistingRDD" not in plans and "LogicalRDD" not in plans
    finally:
        for pin in pins:
            pin.unpersist()


def test_csv_dir_to_parquet(spark, tmp_path):
    """Corrected csv_to_parquet.py behavior: directory-batch convert."""
    csv_dir = tmp_path / "csvs"
    csv_dir.mkdir()
    (csv_dir / "a.csv").write_text("x,y\n1,foo\n2,bar\n")
    (csv_dir / "b.csv").write_text("k\n9\n")
    (csv_dir / "ignore.txt").write_text("not a csv")
    out = tmp_path / "pq"
    csv_dir_to_parquet(spark, str(csv_dir), str(out))
    a = spark.read.parquet(str(out / "a.parquet"))
    assert sorted(map(tuple, a.collect())) == [(1, "foo"), (2, "bar")]
    assert spark.read.parquet(str(out / "b.parquet")).count() == 1
    assert not os.path.exists(out / "ignore.parquet")


def test_write_sorted_layout_enables_minmax_pruning(spark, tmp_path):
    """Range-partitioned sorted layout: parquet footers carry DISJOINT
    per-file min/max ranges on the sort key (the property row-group /
    file pruning needs), where the naive write's files all span the
    full key range; and a range predicate on the key reaches the scan
    as a pushed filter."""
    import pyarrow.parquet as papq

    from gcp_dataengineering_spark.sources.io import write_sorted_layout

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    sorted_dir = str(tmp_path / "sorted")
    naive_dir = str(tmp_path / "naive")
    write_sorted_layout(ev, sorted_dir, ["user_id"], num_files=4)
    ev.repartition(4).write.mode("overwrite").parquet(naive_dir)

    def ranges(d):
        out = []
        for name in sorted(os.listdir(d)):
            if not name.endswith(".parquet"):
                continue
            md = papq.ParquetFile(os.path.join(d, name)).metadata
            idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
            lo = min(
                md.row_group(g).column(idx["user_id"]).statistics.min
                for g in range(md.num_row_groups)
            )
            hi = max(
                md.row_group(g).column(idx["user_id"]).statistics.max
                for g in range(md.num_row_groups)
            )
            out.append((lo, hi))
        return out

    sr = sorted(ranges(sorted_dir))
    nr = ranges(naive_dir)
    assert len(sr) == 4
    # sorted layout: file ranges are pairwise disjoint (each file is
    # prunable for predicates outside its range)
    for (l1, h1), (l2, h2) in zip(sr, sr[1:]):
        assert h1 <= l2, sr
    # naive layout: every file spans ~the whole key range → nothing prunes
    glo, ghi = min(l for l, _ in nr), max(h for _, h in nr)
    assert all(h - l > (ghi - glo) * 0.5 for l, h in nr), nr

    # the range predicate reaches the parquet scan (file+row-group
    # pruning is the reader's job once both halves are in place)
    back = spark.read.parquet(sorted_dir).filter(F.col("user_id") == 3)
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(user_id), EqualTo(user_id,3)" in plan, plan
    assert back.count() == ev.filter(F.col("user_id") == 3).count()


def test_jsonl_roundtrip_and_corrupt_line_capture(spark, tmp_path):
    """JSONL source/sink: schema-first read round-trips the data, and
    a corrupt line lands in _corrupt_record instead of failing."""
    from gcp_dataengineering_spark.sources.io import read_jsonl, write_jsonl

    df = spark.createDataFrame(
        [(1, "hello world", "en"), (2, 'quote " and \\ slash', "de")],
        "doc_id long, text string, lang string",
    )
    d = str(tmp_path / "docs_jsonl")
    write_jsonl(df, d, compression=None)
    back = read_jsonl(spark, d, schema="doc_id long, text string, lang string")
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))

    bad = str(tmp_path / "bad.jsonl")
    with open(bad, "w") as f:
        f.write('{"doc_id": 1, "text": "ok"}\n')
        f.write("NOT JSON AT ALL\n")
    got = read_jsonl(
        spark, bad, schema="doc_id long, text string, _corrupt_record string"
    )
    rows = got.collect()
    assert len(rows) == 2
    corrupt = [r for r in rows if r._corrupt_record is not None]
    assert len(corrupt) == 1 and "NOT JSON" in corrupt[0]._corrupt_record


def test_compact_small_files(spark, tmp_path):
    """Many tiny appended files compact to the computed target count
    with identical data, and the swap leaves no temp dirs behind."""
    from gcp_dataengineering_spark.sources.io import compact_small_files

    d = str(tmp_path / "accreted")
    df = spark.range(0, 1000).withColumn("v", F.col("id") * 2)
    for _ in range(6):
        df.coalesce(2).write.mode("append").parquet(d)
    before_files = len(glob.glob(d + "/*.parquet"))
    assert before_files >= 12
    before = spark.read.parquet(d).groupBy().sum("v").collect()[0][0]

    n = compact_small_files(spark, d, target_mb=128)
    assert n == 1  # tiny dataset → one file
    after_files = glob.glob(d + "/*.parquet")
    assert len(after_files) == 1
    assert spark.read.parquet(d).groupBy().sum("v").collect()[0][0] == before
    assert spark.read.parquet(d).count() == 6000
    assert not glob.glob(str(tmp_path) + "/*_compact*")


def test_read_history_version_time_travel_and_pruning(spark, ref_tables, tmp_path):
    """As-of reads over the versioned history: each version's rows
    come back exactly, default is the latest, and the executed plan
    carries the version equality as a PartitionFilter (only that
    version's directory is read)."""
    from gcp_dataengineering_spark.sources.io import (
        read_history_version,
        write_versioned_history,
    )

    path = str(tmp_path / "hist")
    df1 = spark.range(0, 10).withColumn("v", F.lit("a"))
    df2 = spark.range(0, 25).withColumn("v", F.lit("b"))
    assert write_versioned_history(df1, spark, path) == 1
    assert write_versioned_history(df2, spark, path) == 2

    v1 = read_history_version(spark, path, 1)
    assert v1.count() == 10 and {r.v for r in v1.collect()} == {"a"}
    latest = read_history_version(spark, path)
    assert latest.count() == 25 and {r.v for r in latest.collect()} == {"b"}

    plan = v1._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(version" in plan and "(version" in plan, plan


def test_read_history_drifted_vintages(spark, tmp_path):
    """The reference's crawler updates table schemas in place
    (UpdateBehavior UPDATE_IN_DATABASE, stage_1:1163) — vintages
    drift. A history whose later vintage widened int->long AND added
    a column must read clean at EVERY version when driven by the
    current contract: old int32 files upcast at scan time, missing
    columns come back as typed NULLs; max-version probing stays
    correct throughout; and added-column-only drift works even
    without a contract (mergeSchema path)."""
    from gcp_dataengineering_spark.sources.io import (
        read_history,
        read_history_version,
        read_max_version,
        write_versioned_history,
    )

    path = str(tmp_path / "hist")
    # vintage 1: narrow schema (id int, amount int)
    v1 = spark.createDataFrame([(1, 10), (2, 20)], "id int, amount int")
    assert write_versioned_history(v1, spark, path) == 1
    # vintage 2: id widened to long, amount to long, channel added
    v2 = spark.createDataFrame(
        [(3_000_000_000, 30, "web")], "id long, amount long, channel string"
    )
    assert write_versioned_history(v2, spark, path) == 2

    # the version probe never touches drifted data columns
    assert read_max_version(spark, path) == 2

    contract = "id long, amount long, channel string"
    got1 = read_history_version(spark, path, 1, schema=contract)
    assert got1.dtypes[:3] == [
        ("id", "bigint"), ("amount", "bigint"), ("channel", "string")
    ]
    assert sorted((r.id, r.amount, r.channel) for r in got1.collect()) == [
        (1, 10, None), (2, 20, None)
    ]
    got2 = read_history_version(spark, path, 2, schema=contract)
    assert [(r.id, r.amount, r.channel) for r in got2.collect()] == [
        (3_000_000_000, 30, "web")
    ]
    # latest-by-default still works under the contract
    latest = read_history_version(spark, path, schema=contract)
    assert latest.count() == 1
    # full-history read under the contract: both vintages, one schema
    allv = read_history(spark, path, schema=contract)
    assert allv.count() == 3

    # added-column-only drift (no widening) needs no contract
    path2 = str(tmp_path / "hist2")
    write_versioned_history(
        spark.createDataFrame([(1, 10)], "id long, amount long"), spark, path2
    )
    write_versioned_history(
        spark.createDataFrame([(2, 20, "x")], "id long, amount long, note string"),
        spark,
        path2,
    )
    merged = read_history(spark, path2)
    assert set(merged.columns) == {"id", "amount", "note", "version"}
    assert {r.note for r in merged.collect()} == {None, "x"}


def test_write_zorder_layout_clusters_both_dimensions(spark, tmp_path):
    """Z-ordered files cover rectangles, not stripes: per-file
    footer min/max ranges shrink on BOTH columns (naive layout files
    span ~the full range of each), so predicates on either column
    prune."""
    import pyarrow.parquet as papq

    from gcp_dataengineering_spark.sources.io import write_zorder_layout

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    zdir, ndir = str(tmp_path / "z"), str(tmp_path / "naive")
    write_zorder_layout(ev, zdir, "user_id", "event_id", bits=8, num_files=8)
    ev.repartition(8).write.mode("overwrite").parquet(ndir)

    def mean_frac(d, col):
        spans, glo, ghi = [], None, None
        for name in sorted(os.listdir(d)):
            if not name.endswith(".parquet"):
                continue
            md = papq.ParquetFile(os.path.join(d, name)).metadata
            idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
            lo = min(md.row_group(g).column(idx[col]).statistics.min
                     for g in range(md.num_row_groups))
            hi = max(md.row_group(g).column(idx[col]).statistics.max
                     for g in range(md.num_row_groups))
            spans.append((lo, hi))
            glo = lo if glo is None else min(glo, lo)
            ghi = hi if ghi is None else max(ghi, hi)
        width = max(ghi - glo, 1)
        return sum(h - l for l, h in spans) / (len(spans) * width)

    assert spark.read.parquet(zdir).count() == ev.count()
    for col in ("user_id", "event_id"):
        zf, nf = mean_frac(zdir, col), mean_frac(ndir, col)
        assert nf > 0.85, (col, nf)          # naive: every file spans ~everything
        assert zf < 0.7 * nf, (col, zf, nf)  # z-order: rectangles, both dims shrink


def test_compact_small_files_preserves_partitioned_layout(spark, tmp_path):
    """Compacting a hive-partitioned history must compact leaf by
    leaf: the version= directories survive, a subsequent partitioned
    append still reads ALL versions, and partition pruning still
    works."""
    from gcp_dataengineering_spark.sources.io import (
        compact_small_files,
        read_history_version,
        write_versioned_history,
    )

    path = str(tmp_path / "hist")
    df = spark.range(0, 50).withColumn("v", F.col("id") % 5)
    assert write_versioned_history(df.repartition(6), spark, path, num_files=6) == 1
    assert write_versioned_history(df.repartition(6), spark, path, num_files=6) == 2

    n = compact_small_files(spark, path, target_mb=128)
    assert n == 2  # one file per version leaf
    assert sorted(d for d in os.listdir(path) if d.startswith("version=")) == [
        "version=1", "version=2",
    ]
    assert spark.read.parquet(path).count() == 100

    # the next append still coexists with the compacted layout
    assert write_versioned_history(df, spark, path) == 3
    assert spark.read.parquet(path).count() == 150
    assert read_history_version(spark, path, 1).count() == 50


def test_profile_table_one_pass(spark):
    from gcp_dataengineering_spark.sources.io import profile_table

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    prof = {r.column: r for r in profile_table(docs).collect()}
    assert set(prof) == set(docs.columns)
    n = docs.count()
    for c in docs.columns:
        assert prof[c].n_rows == n and prof[c].n_nulls == 0
    exact_langs = docs.select("lang").distinct().count()
    assert abs(prof["lang"].approx_distinct - exact_langs) <= max(1, exact_langs // 4)
    assert prof["doc_id"].min_str == "0"
    assert prof["lang"].dtype == "string" and prof["doc_id"].dtype == "bigint"

    with_nulls = docs.withColumn(
        "maybe", F.when(F.col("doc_id") % 3 == 0, F.col("lang"))
    )
    p2 = {r.column: r for r in profile_table(with_nulls).collect()}
    assert p2["maybe"].n_nulls == with_nulls.filter(F.col("maybe").isNull()).count()


def test_model_meta_publish_fsyncs(spark, tmp_path, monkeypatch):
    """lm_save and dsir_save publish meta.json through the atomic JSON
    helper: the meta is fsync'd before the rename, so a crash right
    after the rename cannot leave an empty or truncated meta. The
    fsync'd descriptor must be the published file (same inode —
    os.replace keeps it)."""
    from gcp_dataengineering_spark.llm_ops.dsir import dsir_save
    from gcp_dataengineering_spark.llm_ops.ngram_lm import lm_save

    synced: list[int] = []
    real_fsync = os.fsync

    def spy(fd):
        synced.append(os.fstat(fd).st_ino)
        real_fsync(fd)

    monkeypatch.setattr(os, "fsync", spy)
    lm_dir, dsir_dir = str(tmp_path / "lm"), str(tmp_path / "dsir")
    lm_save({"order": 2, "smoothing": "laplace", "frac_bits": 16}, lm_dir)
    dsir_save(
        spark.createDataFrame([(0, 1)], "bucket long, weight long"), dsir_dir
    )
    for d in (lm_dir, dsir_dir):
        assert os.stat(os.path.join(d, "meta.json")).st_ino in synced
