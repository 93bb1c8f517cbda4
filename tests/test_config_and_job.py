"""Config plumbing (stage_1:23-40) + full-job orchestration
(entry point A, stage_1:1261-1304)."""

from __future__ import annotations

import glob

import pytest

from gcp_dataengineering_spark.config import (
    check_config_section,
    read_config_file,
    registry_from_config,
)
from gcp_dataengineering_spark.pipelines.jobs import run_all


def test_driver_memory_sized_to_host(monkeypatch):
    """Without SPARK_GRAFT_DRIVER_MEM the driver heap is half the
    host's physical memory in whole GiB (at least 1g); the variable
    overrides it. No Spark session is started."""
    from gcp_dataengineering_spark import session

    host = {"SC_PAGE_SIZE": 4096}
    monkeypatch.setattr(session.os, "sysconf", host.__getitem__)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    for gib, want in ((15.7, "7g"), (64, "32g"), (3, "1g"), (1, "1g")):
        host["SC_PHYS_PAGES"] = int(gib * 2**30) // 4096
        assert session._driver_memory() == want, gib
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "6g")
    assert session._driver_memory() == "6g"


def test_config_roundtrip(tmp_path, spark):
    ini = tmp_path / "configuration.ini"
    ini.write_text(
        "[dev]\norders = /root/testdata/sf0.001/orders.parquet\n"
        "lineitem = /root/testdata/sf0.001/lineitem.parquet\n"
    )
    cp = read_config_file(str(ini))
    check_config_section(cp, "dev")
    with pytest.raises(KeyError):
        check_config_section(cp, "prod")
    with pytest.raises(FileNotFoundError):
        read_config_file(str(tmp_path / "missing.ini"))
    reg = registry_from_config(cp, "dev")
    assert reg.table_exists("orders")
    assert reg.read(spark, "orders").count() > 0
    reg.register_all(spark)
    assert spark.sql("SELECT count(*) FROM lineitem").first()[0] > 0


def test_cli_entry_point(tmp_path):
    """Entry point A as an executable (stage_1:1261-1304): argv →
    INI → session → audit INITIATED → tam → digital → audit
    COMPLETED. Runs in a subprocess (the CLI owns and stops its
    session); outputs are checked with DuckDB."""
    import json
    import subprocess
    import sys

    from gcp_dataengineering_spark.fixtures import ensure_parquet, fixture_path, synth_inputs

    ensure_parquet()
    out_root = tmp_path / "cli_out"
    ini = tmp_path / "configuration.ini"
    lines = ["[dev]", f"out_root = {out_root}"]
    lines += [f"{name} = {fixture_path(name)}" for name in synth_inputs()]
    ini.write_text("\n".join(lines) + "\n")

    proc = subprocess.run(
        [sys.executable, "-m", "gcp_dataengineering_spark",
         "--config", str(ini), "--environment", "dev",
         "--batch-id", "cli-b1", "--cpus", "4"],
        capture_output=True, text=True, timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    summaries = [json.loads(ln) for ln in proc.stdout.splitlines() if ln.startswith("{")]
    assert [s["table"] for s in summaries] == ["mars_tam_nvs", "mars_combined_nvs_data"]
    assert all(s["rows"] > 0 and s["version"] == 1 for s in summaries)

    import duckdb

    con = duckdb.connect()
    for s in summaries:
        n = con.execute(
            f"SELECT COUNT(*) FROM read_parquet('{s['snapshot']}/*.parquet')"
        ).fetchone()[0]
        assert n == s["rows"]
    audit = con.execute(
        f"SELECT log_id_status, batch_id FROM read_parquet('{out_root}/audit_job_info/*.parquet')"
    ).fetchall()
    statuses = [a[0] for a in audit]
    assert statuses.count("INITIATED") == 1
    assert statuses.count("COMPLETED") >= 5
    assert all(a[1] == "cli-b1" for a in audit)


def test_run_all_jobs(spark, ref_tables, tmp_path):
    out = str(tmp_path / "out")
    results = run_all(spark, ref_tables, out, batch_id="b-all")
    assert [r["table"] for r in results] == ["mars_tam_nvs", "mars_combined_nvs_data"]
    assert all(r["rows"] > 0 and r["version"] == 1 for r in results)
    audit = spark.read.parquet(f"{out}/audit_job_info")
    statuses = [r["log_id_status"] for r in audit.collect()]
    assert statuses.count("INITIATED") == 1
    assert statuses.count("COMPLETED") >= 5  # 2 per table job + final


def _persistent_rdd_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_run_all_releases_its_caches(spark, ref_tables, tmp_path, monkeypatch):
    """run_all leaves no frame it persisted cached (the two outputs and
    hcp_all_channels' three intermediates) and no new RDD blocks."""
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.storagelevel import StorageLevel

    persisted = []
    persist = DataFrame.persist

    def recording_persist(self, *args, **kwargs):
        persisted.append(self)
        return persist(self, *args, **kwargs)

    monkeypatch.setattr(DataFrame, "persist", recording_persist)
    before = _persistent_rdd_ids(spark)
    run_all(spark, ref_tables, str(tmp_path / "out"))
    assert len(persisted) == 5
    assert all(df.storageLevel == StorageLevel.NONE for df in persisted)
    assert _persistent_rdd_ids(spark) <= before


def test_run_all_table_job_failure(spark, ref_tables, tmp_path):
    """When one table job raises, run_all waits for the other,
    re-raises the error and writes no job-COMPLETED audit row; every
    audit file stays readable."""
    import duckdb

    out = str(tmp_path / "out")
    broken = {k: v for k, v in ref_tables.items() if k != "hcp_org"}
    with pytest.raises(KeyError, match="hcp_org"):
        run_all(spark, broken, out, batch_id="b-fail")
    files = sorted(glob.glob(f"{out}/audit_job_info/*.parquet"))
    con = duckdb.connect()
    rows = [
        row for f in files
        for row in con.execute(
            f"SELECT table_name, log_id_status FROM read_parquet('{f}')").fetchall()
    ]
    # the digital table job ran to the end while the TAM one failed
    assert sorted(rows) == [
        ("job", "INITIATED"),
        ("mars_combined_nvs_data_historical", "COMPLETED"),
        ("mars_combined_nvs_data_staging", "COMPLETED"),
    ]


def test_concurrent_audit_appends_all_land(spark, tmp_path):
    """Audit appends from more threads than cores, with a short switch
    interval, each leave exactly their one row (the audit lock keeps
    their parquet commits apart)."""
    import sys

    import duckdb

    from gcp_dataengineering_spark.pipelines.jobs import _audit, _run_concurrently

    path = str(tmp_path / "audit")
    n = 8
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        _run_concurrently(spark, [
            lambda i=i: _audit(spark, path, f"t{i}", i, "COMPLETED", "b") for i in range(n)
        ])
    finally:
        sys.setswitchinterval(interval)
    rows = duckdb.connect().execute(
        f"SELECT table_name, rows_updated FROM read_parquet('{path}/*.parquet')").fetchall()
    assert sorted(rows) == sorted((f"t{i}", i) for i in range(n))


def test_fixture_table_constant_in_sync():
    from gcp_dataengineering_spark.fixtures import FIXTURE_TABLES, synth_inputs

    assert tuple(sorted(synth_inputs().keys())) == FIXTURE_TABLES


def test_cli_default_section_keys_not_tables(tmp_path, spark):
    """[DEFAULT] entries are shared settings, not table bindings —
    the registry built for the job must exclude them (out_root may
    come from DEFAULT)."""
    from gcp_dataengineering_spark.__main__ import OUT_ROOT_KEY
    from gcp_dataengineering_spark.config import read_config_file, registry_from_config

    ini = tmp_path / "configuration.ini"
    ini.write_text(
        "[DEFAULT]\nretries = 3\nout_root = /tmp/shared_out\n"
        "[dev]\norders = /root/testdata/sf0.001/orders.parquet\n"
    )
    cp = read_config_file(str(ini))
    registry = registry_from_config(cp, "dev")
    for key in cp.defaults():
        if key != OUT_ROOT_KEY:
            registry.paths.pop(key, None)
    assert "retries" not in registry.paths
    assert registry.paths.pop(OUT_ROOT_KEY) == "/tmp/shared_out"
    assert list(registry.paths) == ["orders"]
    assert registry.read(spark, "orders").count() > 0


def test_registry_fits_driver_window():
    """The driver's correctness gate checks only the FIRST 50
    registered queries (round 4 registered 55 and the last 5 —
    including both e2e pipelines — went silently unverified on
    regenerated testdata). Two invariants keep that from recurring:
    every registered key fits inside the window, every query has an
    oracle, and the e2e pipeline reconstructions sit well inside the
    first half of the registration order."""
    from gcp_dataengineering_spark.suite import MAX_CHECKED, assemble, rotation

    for round_no in (7, 8):  # both window parities
        queries, oracles = assemble(round_no)
        keys = list(queries)
        assert len(keys) <= MAX_CHECKED, (
            f"{len(keys)} queries registered but the driver checks only the "
            f"first {MAX_CHECKED}; trim or demote to pytest-equality"
        )
        assert set(queries) == set(oracles)
        for must in rotation.PINNED:
            assert must in keys
        assert keys.index("pipeline_tam_e2e") < MAX_CHECKED // 2
        assert keys.index("pipeline_digital_e2e") < MAX_CHECKED // 2


def test_rotation_schedule_partitions_universe():
    """ROTATION.md contract: RESIDENT + GROUP_A + GROUP_B +
    PERMANENT_EXTERNAL partition the full pair universe with no
    duplicates, the window fits the driver cap in BOTH parities, and
    every non-resident key is in exactly one alternating group — so
    no key can go more than 2 rounds without an external oracle row."""
    from collections import Counter

    from gcp_dataengineering_spark.suite import MAX_CHECKED, _all_pairs, rotation

    allk = rotation.all_keys()
    dup = [k for k, c in Counter(allk).items() if c > 1]
    assert not dup, f"keys in more than one rotation group: {dup}"
    queries, oracles = _all_pairs()
    assert set(allk) == set(queries) == set(oracles), (
        sorted(set(allk) ^ set(queries))
    )
    assert set(rotation.PINNED) <= set(rotation.RESIDENT)
    for round_no in (7, 8):
        assert len(rotation.window_keys(round_no)) <= MAX_CHECKED
        # window + external == universe each round
        cover = set(rotation.window_keys(round_no)) | set(
            rotation.external_keys(round_no)
        )
        assert cover == set(allk)
    # alternation: every non-resident, non-permanent key is in-window
    # in one of any two consecutive rounds
    rotating = set(allk) - set(rotation.RESIDENT) - set(rotation.PERMANENT_EXTERNAL)
    for k in rotating:
        assert (
            k in rotation.window_keys(7)) != (k in rotation.window_keys(8)
        ), f"{k} not alternating"


def test_rotation_round_is_derived_from_driver_artifacts():
    """The round number drives which window the driver sees; it must
    track the CORRECTNESS_r*.json artifacts automatically (no manual
    constant to forget to bump between rounds)."""
    import re
    from pathlib import Path

    from gcp_dataengineering_spark.suite import rotation

    root = Path(rotation.__file__).resolve().parents[2]
    rounds = [
        int(m.group(1))
        for p in root.glob("CORRECTNESS_r*.json")
        if (m := re.fullmatch(r"CORRECTNESS_r(\d+)\.json", p.name))
    ]
    # The build checkout always has driver artifacts, so the silent
    # round-7 fallback must never fire here (ADVICE r7) — any
    # RuntimeWarning from current_round() is a failure.
    import warnings as _warnings

    with _warnings.catch_warnings():
        _warnings.simplefilter("error", RuntimeWarning)
        got = rotation.current_round()
    if rounds:
        assert got == max(rounds) + 1
    else:
        assert got >= 1


def test_rotation_round_env_override(monkeypatch):
    """SPARK_GRAFT_ROUND pins the round when the suite runs outside
    the build checkout (no CORRECTNESS artifacts to derive from)."""
    from gcp_dataengineering_spark.suite import rotation

    monkeypatch.setenv(rotation._ROUND_ENV, "11")
    assert rotation.current_round() == 11
    assert rotation.window_keys() == rotation.window_keys(11)
    monkeypatch.setenv(rotation._ROUND_ENV, "12")
    assert rotation.current_round() == 12


def test_rotation_schedule_documented():
    """Every key in the rotation universe appears in ROTATION.md, so
    the schedule on disk and the schedule in code cannot drift."""
    from pathlib import Path

    from gcp_dataengineering_spark.suite import rotation

    doc = (
        Path(rotation.__file__).resolve().parents[2] / "ROTATION.md"
    ).read_text()
    missing = [k for k in rotation.all_keys() if f"`{k}`" not in doc]
    assert not missing, f"keys absent from ROTATION.md: {missing}"


def test_bench_headline_keys_resolve_regardless_of_rotation():
    """bench.py must time every HEADLINE key no matter which rotation
    group is in the driver window this round — a rotated-out key
    silently skipping would break baseline comparability (it DID,
    r7: eight headline keys left the window and vanished from the
    bench until the lookup moved to the full pair universe)."""
    import importlib
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    bench = importlib.import_module("bench")
    import __spark_entry__ as e

    qs = bench._bench_queries(e)
    missing = [k for k in bench.HEADLINE if k not in qs]
    assert not missing, f"headline keys not resolvable: {missing}"


def test_rotated_out_keys_still_match_duckdb(spark):
    """Rotation out of the driver's 50-key oracle window must not end
    external checking: every ROTATED_OUT pair (suite/core.py +
    suite/llm.py) runs here against DuckDB at sf0.01 — the SAME scale
    the driver gates at (r7 verdict item 3: the sf0.001 default gave
    tie- and cap-sensitive semantics less exercise in their
    off-rounds) — with the same row-count / schema / order-insensitive
    value-hash compare the driver applies. Rotation changes which
    harness runs the check, never whether it runs, and now not at what
    scale either. SPARK_GRAFT_EXTERNAL_SF_DIR overrides for a quick
    local iteration loop."""
    import os

    import duckdb

    from gcp_dataengineering_spark.suite import assemble_external
    from tools.compare import TABLES, table_hash

    sf_dir = os.environ.get(
        "SPARK_GRAFT_EXTERNAL_SF_DIR", "/root/testdata/sf0.01"
    )
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    ext_q, ext_o = assemble_external()
    pairs = [(key, ext_q[key], ext_o[key]) for key in ext_q]
    assert len(pairs) >= 9
    failures = []
    for key, q, sql in pairs:
        df = q(spark, sf_dir)
        s_rows = [tuple(r) for r in df.collect()]
        s_cols = list(df.columns)
        cur = con.execute(sql)
        o_cols = [d[0] for d in cur.description]
        o_rows = cur.fetchall()
        if len(s_rows) != len(o_rows):
            failures.append(f"{key}: rows {len(s_rows)} vs {len(o_rows)}")
            continue
        if sorted(s_cols) != sorted(o_cols):
            failures.append(f"{key}: cols {sorted(s_cols)} vs {sorted(o_cols)}")
            continue
        if table_hash(s_rows, s_cols) != table_hash(o_rows, o_cols):
            failures.append(f"{key}: value hash mismatch")
    assert not failures, failures


def test_compare_tool_rejects_unknown_keys():
    """r13 verdict finding: filtering tools/compare.py for keys
    outside the current rotation window must fail loudly (exit 1,
    the keys named) instead of silently checking nothing and
    printing '0 failures'. The guard fires before Spark startup, so
    this costs no JVM."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "tools/compare.py", "/root/testdata/sf0.01",
         "definitely_not_a_key"],
        capture_output=True, text=True, timeout=120, cwd=root,
    )
    assert proc.returncode == 1
    assert "unknown keys" in proc.stdout
    assert "definitely_not_a_key" in proc.stdout
