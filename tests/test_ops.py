"""Unit tests for the operator library (SURVEY.md §5.3)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gcp_dataengineering_spark.ops.allocate import (
    allocate_join,
    allocate_window,
    missing_cost_redistribution,
)
from gcp_dataengineering_spark.ops.conform import (
    parse_money,
    recode,
    typed_null,
    week_to_month,
    yrmo_month,
    yrmo_year,
)
from gcp_dataengineering_spark.ops.pivot import builtin_pivot, conditional_pivot, unpivot
from gcp_dataengineering_spark.ops.vintage import assert_disjoint, union_vintages


def test_parse_money(spark):
    df = spark.createDataFrame([("1,234,567",), ("89", ), (None,)], "s string")
    vals = [r[0] for r in df.select(parse_money("s").alias("v")).collect()]
    assert vals == [1234567.0, 89.0, None]


def test_typed_null_keeps_schema(spark):
    df = spark.range(1).select(typed_null("double").alias("engage"))
    assert dict(df.dtypes)["engage"] == "double"
    assert df.first()["engage"] is None


def test_recode_with_and_without_default(spark):
    df = spark.createDataFrame([("EHR",), ("VIDEO",), ("UNKNOWN",)], "c string")
    m = {"EHR": "EHR/EMR", "VIDEO": "Custom"}
    passthrough = [r[0] for r in df.select(recode("c", m).alias("o")).collect()]
    assert passthrough == ["EHR/EMR", "Custom", "UNKNOWN"]
    nulled = [
        r[0]
        for r in df.select(recode("c", m, default=typed_null("string")).alias("o")).collect()
    ]
    assert nulled == ["EHR/EMR", "Custom", None]


def test_yrmo_helpers(spark):
    df = spark.createDataFrame([(202201,), (202312,)], "ym bigint")
    rows = df.select(
        yrmo_year("ym").alias("y"), yrmo_month("ym").alias("m")
    ).collect()
    assert [(r.y, r.m) for r in rows] == [("2022", "01"), ("2023", "12")]


def test_week_to_month_full_range(spark):
    """The F11 translation over weeks 1..53, incl. the >=49 wrap
    (stage_1:853: offset = (week-1) div 4 months past Jan 1, keep
    month only)."""
    df = spark.createDataFrame([(w,) for w in range(1, 54)], "week int")
    got = {r["week"]: r["m"] for r in df.select("week", week_to_month("week").alias("m")).collect()}
    import datetime

    for w in range(1, 54):
        offset = (w - 1) // 4
        base = datetime.date(2023, 1, 1)
        y, m = base.year + (offset // 12), base.month + (offset % 12)
        expect = m  # date arithmetic keeps only the month number
        assert got[w] == expect, (w, got[w], expect)
    assert got[49] == 1 and got[52] == 1 and got[53] == 2


def test_union_vintages_and_disjoint(spark):
    df = spark.createDataFrame([(i,) for i in range(10)], "k int")
    k = F.col("k")
    branches = [(df, k < 5), (df, (k >= 5) & (k < 8)), (df, k >= 8)]
    u = union_vintages(branches, source_col="src")
    assert u.count() == 10
    assert u.filter(F.col("src") == "v2").count() == 3
    assert_disjoint(branches, "k")
    with pytest.raises(AssertionError):
        assert_disjoint([(df, k < 5), (df, k < 3)], "k")


def test_allocation_window_equals_join(spark):
    df = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 1, 30.0), ("a", 2, 5.0), ("b", 1, 7.0)],
        "g string, m int, w double",
    ).withColumn("pot", F.lit(100.0))
    a = allocate_window(df, "pot", "w", ["g", "m"], out_col="c")
    pots = df.select("g", "m", "pot").distinct()
    b = allocate_join(df.drop("pot"), pots, "pot", "w", ["g", "m"], out_col="c")
    key = lambda r: (r["g"], r["m"], r["w"])
    ra = sorted([(key(r), round(r["c"], 9)) for r in a.collect()])
    rb = sorted([(key(r), round(r["c"], 9)) for r in b.collect()])
    assert ra == rb
    # each partition's allocations sum to the pot
    total = a.groupBy("g", "m").agg(F.round(F.sum("c"), 6).alias("s")).collect()
    assert all(r["s"] == 100.0 for r in total)


def test_allocate_join_is_share_first_over_reach_only_totals(spark):
    """J9 is ``(w / total) * pot`` bit for bit (stage_1:664-674), and
    the total sums the reach rows alone: a partition with two pots
    gets one allocation per pot, each over the same total."""
    df = spark.createDataFrame(
        [("a", 1, 1.0), ("a", 1, 2.0), ("b", 1, 2.0), ("b", 1, 5.0)],
        "g string, m int, w double",
    )
    pots = spark.createDataFrame(
        [("a", 1, 100.0), ("a", 1, 10.0), ("b", 1, 1000000.0)],
        "g string, m int, pot double",
    )
    got = sorted(
        (r["g"], r["w"], r["pot"], r["c"])
        for r in allocate_join(df, pots, "pot", "w", ["g", "m"], out_col="c").collect()
    )
    totals = {"a": 3.0, "b": 7.0}
    want = sorted(
        (g, w, pot, (w / totals[g]) * pot)
        for g, w in [("a", 1.0), ("a", 2.0), ("b", 2.0), ("b", 5.0)]
        for pg, pot in [("a", 100.0), ("a", 10.0), ("b", 1000000.0)]
        if pg == g
    )
    assert got == want
    # the two orders round differently on these inputs
    assert any(c != pot * w / totals[g] for g, w, pot, c in want)


def test_missing_cost_redistribution(spark):
    reach = spark.createDataFrame(
        [("2024", "01", "Display", 10.0), ("2024", "03", "Display", None)],
        "year string, month string, channel string, reach double",
    )
    pots = spark.createDataFrame(
        [
            ("2024", "01", "Display", 100.0),
            ("2024", "01", "Custom", 50.0),
            ("2024", "02", "Display", 70.0),
            ("2024", "03", "Display", 30.0),
        ],
        "year string, month string, channel string, cost double",
    )
    out = {
        (r["channel"], r["year"]): r["missing_cost"]
        for r in missing_cost_redistribution(reach, pots).collect()
    }
    # Custom 2024-01 has no reach; Display 2024-02 has no reach either;
    # Display 2024-03 matches a reach row whose reach is NULL, which
    # counts as missing too (hcp_all_channels relies on it)
    assert out == {("Custom", "2024"): 50.0, ("Display", "2024"): 100.0}


def test_pivot_forms_agree(spark):
    df = spark.createDataFrame(
        [("u1", "REACH", "10"), ("u1", "REACH", "5"), ("u1", "ENGAGEMENT", "2"), ("u2", "REACH", "1")],
        "id string, metric string, value string",
    )
    a = conditional_pivot(df, ["id"], "metric", "value", {"REACH": "reach", "ENGAGEMENT": "engage"})
    b = builtin_pivot(df, ["id"], "metric", "value", ["REACH", "ENGAGEMENT"]).withColumnsRenamed(
        {"REACH": "reach", "ENGAGEMENT": "engage"}
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    row = {r["id"]: r for r in a.collect()}
    assert row["u1"]["reach"] == 15.0 and row["u1"]["engage"] == 2.0
    assert row["u2"]["engage"] is None


def test_unpivot(spark):
    df = spark.createDataFrame([("2022-01", "10", "20")], "m string, a string, b string")
    out = unpivot(df, ["m"], ["a", "b"], var_name="ch", value_name="v")
    assert sorted(map(tuple, out.collect())) == [("2022-01", "a", "10"), ("2022-01", "b", "20")]


# ---------------------------------------------------------------- round 6: compaction
def test_latest_by_key_forms_agree_on_events(spark):
    """The max(struct(...)) aggregation form (map-side-combinable —
    the scale shape) and the row_number window form produce the same
    compacted table on real event data with a total version order."""
    from gcp_dataengineering_spark.ops.compaction import (
        latest_by_key_agg,
        latest_by_key_window,
    )
    from gcp_dataengineering_spark.suite.core import _t, event_ts

    ev = _t(spark, "/root/testdata/sf0.001", "events")
    ev = ev.withColumn("ts_ts", event_ts(ev)).drop("ts")
    a = latest_by_key_agg(ev, ["user_id"], ["ts_ts", "event_id"])
    w = latest_by_key_window(ev, ["user_id"], ["ts_ts", "event_id"])
    assert a.columns == ev.columns and w.columns == ev.columns
    assert a.count() == ev.select("user_id").distinct().count()
    assert a.exceptAll(w).count() == 0 and w.exceptAll(a).count() == 0


def test_latest_by_key_total_order_tiebreak(spark):
    """Equal primary versions resolve by the secondary column in both
    forms — the caller-supplied total order is what makes compaction
    deterministic."""
    from gcp_dataengineering_spark.ops.compaction import (
        latest_by_key_agg,
        latest_by_key_window,
    )

    df = spark.createDataFrame(
        [(1, 10, 3, "a"), (1, 10, 7, "b"), (1, 9, 99, "c"), (2, 5, 1, "d")],
        "k long, v long, seq long, payload string",
    )
    for fn in (latest_by_key_agg, latest_by_key_window):
        rows = {r.k: r for r in fn(df, ["k"], ["v", "seq"]).collect()}
        assert rows[1].payload == "b" and rows[1].seq == 7
        assert rows[2].payload == "d"


def test_conform_schema_cast_null_drop_order(spark):
    from gcp_dataengineering_spark.ops.conform import conform_schema

    batch = spark.createDataFrame(
        [("1", "x", 2.5, "extra")],
        "id string, name string, score double, junk string",
    )
    out = conform_schema(batch, "id bigint, score string, missing date, name string")
    assert out.columns == ["id", "score", "missing", "name"]
    assert dict(out.dtypes) == {
        "id": "bigint", "score": "string", "missing": "date", "name": "string"
    }
    r = out.collect()[0]
    assert (r.id, r.score, r.missing, r.name) == (1, "2.5", None, "x")
    # two differently-shaped batches conform then union cleanly
    b2 = spark.createDataFrame([(7,)], "id long")
    u = out.unionByName(conform_schema(b2, "id bigint, score string, missing date, name string"))
    assert u.count() == 2
    # permissive cast: a bad cast lands as NULL, not an error
    bad = conform_schema(spark.createDataFrame([("notanum",)], "id string"),
                         "id bigint")
    assert bad.collect()[0].id is None


# ---------------------------------------------------------------- round 6: funnel
def test_funnel_steps_ordered_semantics(spark):
    from gcp_dataengineering_spark.ops.funnel import funnel_report, funnel_steps

    rows = [
        # u1: full ordered conversion
        (1, "2024-01-01 00:00:00", "view"), (1, "2024-01-01 00:01:00", "click"),
        (1, "2024-01-01 00:02:00", "buy"),
        # u2: buy BEFORE view/click → only counts steps after order
        (2, "2024-01-01 00:00:00", "buy"), (2, "2024-01-01 00:01:00", "view"),
        (2, "2024-01-01 00:02:00", "click"),
        # u3: repeats + noise, converts on the late buy
        (3, "2024-01-01 00:00:00", "view"), (3, "2024-01-01 00:00:30", "view"),
        (3, "2024-01-01 00:01:00", "noise"), (3, "2024-01-01 00:02:00", "click"),
        (3, "2024-01-01 00:03:00", "buy"),
        # u4: never starts
        (4, "2024-01-01 00:00:00", "noise"),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts string, event_type string").withColumn(
        "ts", F.to_timestamp("ts")
    )
    got = {r.user_id: r.max_step for r in funnel_steps(ev, ["view", "click", "buy"]).collect()}
    assert got == {1: 3, 2: 2, 3: 3, 4: 0}

    rep = {r.step: (r.step_name, r.n_users) for r in funnel_report(ev, ["view", "click", "buy"]).collect()}
    assert rep == {1: ("view", 3), 2: ("click", 3), 3: ("buy", 2)}


def test_funnel_python_replay_on_real_events(spark):
    """max_step matches a pure-Python replay of the same ordered walk
    over the real events table; the report is monotone."""
    from gcp_dataengineering_spark.ops.funnel import funnel_report, funnel_steps
    from gcp_dataengineering_spark.suite.core import _t, event_ts

    steps = ["view", "click", "signup", "purchase"]
    ev = _t(spark, "/root/testdata/sf0.001", "events")
    ev = ev.withColumn("ts_ts", event_ts(ev))
    got = {r.user_id: r.max_step
           for r in funnel_steps(ev, steps, ts_col="ts_ts").collect()}

    raw = ev.select("user_id", "ts_ts", "event_type").collect()
    by_user = {}
    for r in raw:
        by_user.setdefault(r.user_id, []).append((r.ts_ts, r.event_type))
    want = {}
    for u, evs in by_user.items():
        k = 0
        for _, et in sorted(evs, key=lambda x: (x[0], x[1])):
            if k < len(steps) and et == steps[k]:
                k += 1
        want[u] = k
    assert got == want

    rep = [r.n_users for r in funnel_report(ev, steps, ts_col="ts_ts").orderBy("step").collect()]
    assert all(a >= b for a, b in zip(rep, rep[1:]))


def test_funnel_windowed_semantics(spark):
    """Conversion-window funnel: step k counts only within max_gap_s
    of reaching step k-1; entry is unconstrained; an out-of-window
    candidate freezes the funnel (later candidates are even later)."""
    from gcp_dataengineering_spark.ops.funnel import (
        funnel_report,
        funnel_steps,
        funnel_steps_windowed,
    )

    rows = [
        # u1: converts fully, every gap 60 s
        (1, "2024-01-01 00:00:00", "view"), (1, "2024-01-01 00:01:00", "click"),
        (1, "2024-01-01 00:02:00", "buy"),
        # u2: click arrives 2 h after view → frozen at step 1 even
        # though a buy follows in-window of the click
        (2, "2024-01-01 00:00:00", "view"), (2, "2024-01-01 02:00:00", "click"),
        (2, "2024-01-01 02:01:00", "buy"),
        # u3: first click out-of-window, but the fold freezes — the
        # later in-window-of-nothing click can never rescue it
        (3, "2024-01-01 00:00:00", "view"), (3, "2024-01-01 03:00:00", "click"),
        (3, "2024-01-01 03:00:30", "click"),
        # u4: entry (view) very late is still step 1 — no window on entry
        (4, "2024-01-05 00:00:00", "view"),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, ts string, event_type string"
    ).withColumn("ts", F.to_timestamp("ts"))
    got = {
        r.user_id: r.max_step
        for r in funnel_steps_windowed(ev, ["view", "click", "buy"], 3600.0).collect()
    }
    assert got == {1: 3, 2: 1, 3: 1, 4: 1}

    # with a window wider than any gap, it degenerates to funnel_steps
    wide = {
        r.user_id: r.max_step
        for r in funnel_steps_windowed(ev, ["view", "click", "buy"], 1e9).collect()
    }
    plain = {
        r.user_id: r.max_step
        for r in funnel_steps(ev, ["view", "click", "buy"]).collect()
    }
    assert wide == plain

    # report routes through the windowed fold when max_gap_s given
    rep = {
        r.step: r.n_users
        for r in funnel_report(ev, ["view", "click", "buy"], max_gap_s=3600.0).collect()
    }
    assert rep == {1: 4, 2: 1, 3: 1}


def test_funnel_windowed_python_replay_on_real_events(spark):
    """Windowed max_step matches a pure-Python replay of the same
    fold over the real events table at the suite's 86400 s gap."""
    from gcp_dataengineering_spark.ops.funnel import funnel_steps_windowed
    from gcp_dataengineering_spark.suite.core import _t, event_ts

    steps = ["view", "click", "signup", "purchase"]
    gap = 86400.0
    ev = _t(spark, "/root/testdata/sf0.001", "events")
    ev = ev.withColumn("ts_ts", event_ts(ev))
    got = {
        r.user_id: r.max_step
        for r in funnel_steps_windowed(ev, steps, gap, ts_col="ts_ts").collect()
    }

    raw = ev.select("user_id", "ts_ts", "event_type").collect()
    by_user = {}
    for r in raw:
        by_user.setdefault(r.user_id, []).append((r.ts_ts, r.event_type))
    want = {}
    for u, evs in by_user.items():
        k, last = 0, None
        for ts, et in sorted(evs, key=lambda x: (x[0], x[1])):
            if (
                k < len(steps)
                and et == steps[k]
                and (k == 0 or (ts - last).total_seconds() <= gap)
            ):
                k, last = k + 1, ts
        want[u] = k
    assert got == want


def test_asof_join_semantics(spark):
    """Backward as-of: latest right at-or-before each left ts per
    key; exact-tie matches; tolerance nulls stale matches; inner
    drops unmatched; left keeps them as NULLs."""
    from gcp_dataengineering_spark.ops.temporal import asof_join

    left = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00", "p1"),   # matches r@09:59
            (1, "2024-01-01 12:00:00", "p2"),   # matches r@12:00 (exact tie)
            (2, "2024-01-01 08:00:00", "p3"),   # before any right -> NULL
            (3, "2024-01-01 09:00:00", "p4"),   # key with no right rows
        ],
        "k long, ts string, pid string",
    ).withColumn("ts", F.to_timestamp("ts"))
    right = spark.createDataFrame(
        [
            (1, "2024-01-01 09:00:00", 10.0),
            (1, "2024-01-01 09:59:00", 20.0),
            (1, "2024-01-01 12:00:00", 30.0),
            (2, "2024-01-01 09:00:00", 40.0),
        ],
        "k long, ts string, v double",
    ).withColumn("ts", F.to_timestamp("ts"))

    got = {
        r.pid: (r.v, str(r._asof_ts) if r._asof_ts else None)
        for r in asof_join(left, right, "k", right_cols=["v"]).collect()
    }
    assert got == {
        "p1": (20.0, "2024-01-01 09:59:00"),
        "p2": (30.0, "2024-01-01 12:00:00"),
        "p3": (None, None),
        "p4": (None, None),
    }

    # tolerance: p1's match is 1 min old (in tol), a 30 s tol kills it
    tight = {
        r.pid: r.v
        for r in asof_join(
            left, right, "k", right_cols=["v"], tolerance_s=30
        ).collect()
    }
    assert tight["p1"] is None and tight["p2"] == 30.0

    inner = {r.pid for r in asof_join(left, right, "k", right_cols=["v"], how="inner").collect()}
    assert inner == {"p1", "p2"}

    import pytest as _pytest

    with _pytest.raises(ValueError, match="collide"):
        asof_join(left, right.withColumnRenamed("v", "pid"), "k", right_cols=["pid"])


def test_asof_join_one_shuffle_no_join_in_plan(spark):
    """The as-of is a window pass, not a join: the executed plan has
    exactly one Exchange (the key partition) and no join operator —
    the shape that scales to fact-fact as-of at 100 TB."""
    from gcp_dataengineering_spark.ops.temporal import asof_join

    left = spark.range(100).select(
        (F.col("id") % 5).alias("k"),
        F.timestamp_seconds(F.col("id") * 60).alias("ts"),
        F.col("id").alias("lid"),
    )
    right = spark.range(50).select(
        (F.col("id") % 5).alias("k"),
        F.timestamp_seconds(F.col("id") * 97).alias("ts"),
        (F.col("id") * 1.5).alias("v"),
    )
    out = asof_join(left, right, "k", right_cols=["v"])
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    assert plan.count("Exchange") <= 2  # union partitions + window partition


def test_interval_join_semantics_and_plan(spark):
    """Closed-interval containment, exactly one output row per
    matching pair even when the interval spans many buckets; no
    cartesian in the plan; degenerate/invalid intervals drop."""
    from gcp_dataengineering_spark.ops.temporal import interval_join

    pts = spark.createDataFrame(
        [
            (1, "2024-01-01 10:30:00", 100),
            (1, "2024-01-01 13:00:00", 101),  # outside
            (2, "2024-01-01 10:30:00", 102),  # other key
            (1, "2024-01-01 12:00:00", 103),  # exact end boundary
            (1, "2024-01-01 10:00:00", 104),  # exact start boundary
        ],
        "k long, ts string, pid long",
    ).withColumn("ts", F.to_timestamp("ts"))
    iv = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00", "2024-01-01 12:00:00", "w1"),
            (2, "2024-01-01 11:00:00", "2024-01-01 12:00:00", "w2"),
            (1, "2024-01-01 09:00:00", "2024-01-01 08:00:00", "bad"),  # start>end
        ],
        "k long, s string, e string, ivid string",
    ).withColumn("s", F.to_timestamp("s")).withColumn("e", F.to_timestamp("e"))

    out = interval_join(pts, iv, "k", "ts", "s", "e", bucket_width_s=900)
    rows = [(r.pid, r.ivid) for r in out.collect()]
    assert sorted(rows) == [(100, "w1"), (103, "w1"), (104, "w1")]
    # each pair exactly once despite the interval spanning 9 buckets
    assert len(rows) == len(set(rows))

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan

    import pytest as _pytest

    with _pytest.raises(ValueError, match="collision"):
        interval_join(pts, iv.withColumnRenamed("ivid", "pid"), "k", "ts", "s", "e")

    # malformed-data guard: a far-future end would explode to
    # millions of grid rows — the job must fail with a clear message
    bad = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", "2124-01-01 00:00:00", "wbad")],
        "k long, s string, e string, ivid string",
    ).withColumn("s", F.to_timestamp("s")).withColumn("e", F.to_timestamp("e"))
    with _pytest.raises(Exception, match="interval_join: interval spans"):
        interval_join(pts, bad, "k", "ts", "s", "e", bucket_width_s=900).collect()

    # reversed_policy: 'drop' (default, asserted above — the 'bad'
    # reversed interval vanished by documented contract); 'strict'
    # routes the SAME row through the runtime guard instead of a
    # silent filter (ADVICE r7 — one malformed-data policy, two knobs)
    with _pytest.raises(Exception, match="interval_join: reversed interval"):
        interval_join(
            pts, iv, "k", "ts", "s", "e", bucket_width_s=900,
            reversed_policy="strict",
        ).collect()
    # NULL-bounded intervals: ALWAYS dropped, both policies — the
    # documented contract (Catalyst infers IsNotNull from the
    # containment refine and prunes them below any in-plan guard, so
    # a strict-mode raise for nulls is unreachable by construction)
    nullish = spark.createDataFrame(
        [(1, None, "2024-01-01 12:00:00", "wnull")],
        "k long, s string, e string, ivid string",
    ).withColumn("s", F.to_timestamp("s")).withColumn("e", F.to_timestamp("e"))
    for policy in ("drop", "strict"):
        assert (
            interval_join(
                pts, nullish, "k", "ts", "s", "e", bucket_width_s=900,
                reversed_policy=policy,
            ).count()
            == 0
        )

    # strict on clean data behaves exactly like drop
    clean = iv.filter(F.col("s") <= F.col("e"))
    strict_rows = [
        (r.pid, r.ivid)
        for r in interval_join(
            pts, clean, "k", "ts", "s", "e", bucket_width_s=900,
            reversed_policy="strict",
        ).collect()
    ]
    assert sorted(strict_rows) == sorted(rows)
    with _pytest.raises(ValueError, match="reversed_policy"):
        interval_join(
            pts, iv, "k", "ts", "s", "e", reversed_policy="explode"
        )


def test_scd2_build_intervals_and_asof_lookup(spark):
    """SCD2 intervals: valid_to = next change per key, NULL for the
    current row; half-open [from, to) — an as-of lookup via asof_join
    at any probe instant returns exactly the version whose interval
    contains it."""
    from gcp_dataengineering_spark.ops.temporal import asof_join, scd2_build

    changes = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00", "bronze"),
            (1, "2024-02-01 00:00:00", "silver"),
            (1, "2024-03-01 00:00:00", "gold"),
            (2, "2024-01-15 00:00:00", "bronze"),
        ],
        "k long, ts string, tier string",
    ).withColumn("ts", F.to_timestamp("ts"))
    dim = scd2_build(changes, "k", "ts")
    rows = {(r.k, r.tier): (str(r.valid_from), str(r.valid_to) if r.valid_to else None)
            for r in dim.collect()}
    assert rows == {
        (1, "bronze"): ("2024-01-01 00:00:00", "2024-02-01 00:00:00"),
        (1, "silver"): ("2024-02-01 00:00:00", "2024-03-01 00:00:00"),
        (1, "gold"): ("2024-03-01 00:00:00", None),
        (2, "bronze"): ("2024-01-15 00:00:00", None),
    }

    # as-of lookup: probe instants resolve to the containing version
    probes = spark.createDataFrame(
        [
            (1, "2024-01-20 00:00:00", "p1"),  # bronze
            (1, "2024-02-01 00:00:00", "p2"),  # exactly at change -> silver
            (1, "2024-12-01 00:00:00", "p3"),  # current -> gold
            (2, "2024-01-01 00:00:00", "p4"),  # before first change -> none
        ],
        "k long, pts string, pid string",
    ).withColumn("pts", F.to_timestamp("pts"))
    got = {
        r.pid: r.tier
        for r in asof_join(
            probes, dim.select("k", F.col("valid_from").alias("vf"), "tier"),
            "k", "pts", "vf", right_cols=["tier"],
        ).collect()
    }
    assert got == {"p1": "bronze", "p2": "silver", "p3": "gold", "p4": None}

    import pytest as _pytest

    with _pytest.raises(ValueError, match="valid_from"):
        scd2_build(changes.withColumnRenamed("tier", "valid_from"), "k", "ts")


def test_rolling_aggregate_time_range_semantics(spark):
    """Time-RANGE frames, not row frames: a burst inside the window
    counts fully, a gap larger than the window resets, equal
    timestamps are peers (both see each other)."""
    from gcp_dataengineering_spark.ops.temporal import rolling_aggregate

    rows = [
        (1, "2024-01-01 10:00:00", 1.0),
        (1, "2024-01-01 10:30:00", 2.0),   # sees 10:00 (1h window)
        (1, "2024-01-01 12:30:00", 4.0),   # gap > 1h: alone
        (2, "2024-01-01 10:00:00", 8.0),   # tie peers...
        (2, "2024-01-01 10:00:00", 16.0),  # ...see each other
    ]
    ev = spark.createDataFrame(rows, "k long, ts string, v double").withColumn(
        "ts", F.to_timestamp("ts")
    )
    got = sorted(
        (r.k, str(r.ts), r.n_in_window, r.sum_in_window)
        for r in rolling_aggregate(ev, "k", "ts", "v", 3600.0).collect()
    )
    assert got == [
        (1, "2024-01-01 10:00:00", 1, 1.0),
        (1, "2024-01-01 10:30:00", 2, 3.0),
        (1, "2024-01-01 12:30:00", 1, 4.0),
        (2, "2024-01-01 10:00:00", 2, 24.0),
        (2, "2024-01-01 10:00:00", 2, 24.0),
    ]

    import pytest as _pytest

    with _pytest.raises(ValueError, match="window_s"):
        rolling_aggregate(ev, "k", "ts", "v", 0)


def test_group_quantiles_exact_interpolation(spark):
    """Exact linear interpolation, deterministic, one row per group;
    a single-value group returns that value at every fraction."""
    from gcp_dataengineering_spark.ops.stats import group_quantiles

    df = spark.createDataFrame(
        [("a", v) for v in (10, 20, 30, 40)] + [("b", 7)], "g string, v long"
    )
    got = {r.g: (r.q25, r.q50, r.q90) for r in
           group_quantiles(df, "g", "v", [0.25, 0.5, 0.9]).collect()}
    # numpy-style linear interpolation over [10,20,30,40]
    assert got["a"] == (17.5, 25.0, 37.0)
    assert got["b"] == (7.0, 7.0, 7.0)

    import pytest as _pytest

    with _pytest.raises(ValueError, match="fraction"):
        group_quantiles(df, "g", "v", [1.5])
    with _pytest.raises(ValueError, match="non-empty"):
        group_quantiles(df, "g", "v", [])


def test_temporal_python_replay_on_real_events(spark):
    """asof_join over the real events table matches a pure-Python
    replay (latest view <= each purchase per user)."""
    from gcp_dataengineering_spark.ops.temporal import asof_join
    from gcp_dataengineering_spark.suite.core import _t, event_ts

    ev = _t(spark, "/root/testdata/sf0.001", "events")
    ev = ev.withColumn("ts_ts", event_ts(ev))
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts_ts"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts_ts", F.col("value").alias("v")
    )
    got = {
        r.event_id: r.v
        for r in asof_join(
            purchases, views, "user_id", "ts_ts", "ts_ts", right_cols=["v"]
        ).collect()
    }

    vrows = sorted(
        ((r.user_id, r.ts_ts, r.v) for r in views.collect()),
        key=lambda x: (x[0], x[1]),
    )
    want = {}
    for p in purchases.collect():
        best = None
        for u, ts, v in vrows:
            if u == p.user_id and ts <= p.ts_ts:
                best = v
        want[p.event_id] = best
    assert got == want


def test_asof_join_matches_python_reference_property(spark):
    """Property check of the tag-union-window as-of against a brute
    Python reference across generated key/timestamp shapes: sparse
    and dense keys, exact ties (left==right ts must match), keys
    with no right rows, duplicate left timestamps."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from gcp_dataengineering_spark.ops.temporal import asof_join

    ts = st.integers(min_value=0, max_value=50)
    key = st.integers(min_value=0, max_value=3)

    @settings(max_examples=12, deadline=None)
    @given(
        st.lists(st.tuples(key, ts), min_size=1, max_size=12),
        st.lists(st.tuples(key, ts), min_size=0, max_size=12),
    )
    def check(lrows, rrows):
        left = spark.createDataFrame(
            [(k, t, i) for i, (k, t) in enumerate(lrows)],
            "k long, sec long, lid long",
        ).withColumn("lts", F.timestamp_seconds(F.col("sec"))).drop("sec")
        # right needs unique (k, ts) for a deterministic answer
        rset = sorted(set(rrows))
        right = spark.createDataFrame(
            [(k, t, float(i)) for i, (k, t) in enumerate(rset)] or [(99, 0, 0.0)],
            "k long, sec long, v double",
        ).withColumn("rts", F.timestamp_seconds(F.col("sec"))).drop("sec")
        got = {
            r.lid: r.v
            for r in asof_join(
                left, right, "k", "lts", "rts", right_cols=["v"]
            ).collect()
        }
        rlist = [(k, t, float(i)) for i, (k, t) in enumerate(rset)] or [(99, 0, 0.0)]
        want = {}
        for i, (k, t) in enumerate(lrows):
            best = None
            for rk, rt, rv in rlist:
                if rk == k and rt <= t and (best is None or rt > best[0]):
                    best = (rt, rv)
            want[i] = best[1] if best else None
        assert got == want

    check()


def test_interval_join_matches_python_reference_property(spark):
    """Property check of the grid-bucket interval join against a
    brute-force double loop: every matching (point, interval) pair
    exactly once, closed boundaries, across bucket widths that do
    and don't divide the interval lengths."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from gcp_dataengineering_spark.ops.temporal import interval_join

    ts = st.integers(min_value=0, max_value=120)

    @settings(max_examples=12, deadline=None)
    @given(
        st.lists(st.tuples(st.integers(0, 2), ts), min_size=1, max_size=10),
        st.lists(st.tuples(st.integers(0, 2), ts, st.integers(0, 60)), min_size=1, max_size=6),
        st.sampled_from([7, 30, 60]),
    )
    def check(prows, ivrows, width):
        pts = spark.createDataFrame(
            [(k, t, i) for i, (k, t) in enumerate(prows)],
            "k long, sec long, pid long",
        ).withColumn("pts", F.timestamp_seconds(F.col("sec"))).drop("sec")
        iv = spark.createDataFrame(
            [(k, s, s + d, i) for i, (k, s, d) in enumerate(ivrows)],
            "k long, s long, e long, ivid long",
        ).withColumn("sts", F.timestamp_seconds(F.col("s"))).withColumn(
            "ets", F.timestamp_seconds(F.col("e"))
        ).drop("s", "e")
        got = sorted(
            (r.pid, r.ivid)
            for r in interval_join(
                pts, iv, "k", "pts", "sts", "ets", bucket_width_s=width
            ).collect()
        )
        want = sorted(
            (pi, ii)
            for pi, (pk, pt) in enumerate(prows)
            for ii, (ik, s, d) in enumerate(ivrows)
            if pk == ik and s <= pt <= s + d
        )
        assert got == want

    check()


def test_temporal_ops_accept_timestamp_ntz(spark):
    """Parquet event sources read as timestamp_ntz, which ANSI mode
    refuses to cast straight to double — every time-based operator
    must normalize through TIMESTAMP and produce the same result on
    raw-ntz input as on converted input (the session is pinned UTC,
    so the instant round-trips)."""
    from gcp_dataengineering_spark.ops.funnel import funnel_steps_windowed
    from gcp_dataengineering_spark.ops.temporal import (
        asof_join,
        interval_join,
        rolling_aggregate,
    )
    from gcp_dataengineering_spark.suite.core import event_ts

    raw = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    assert dict(raw.dtypes)["ts"].startswith("timestamp")  # ntz or tz
    conv = raw.withColumn("ts", event_ts(raw))

    def run_all(ev):
        purchases = ev.filter(F.col("event_type") == "purchase").select(
            "event_id", "user_id", F.col("ts").alias("pts")
        )
        views = ev.filter(F.col("event_type") == "view").select(
            "user_id", F.col("ts").alias("vts"), F.col("value").alias("v")
        )
        a = sorted(
            (r.event_id, r.v)
            for r in asof_join(
                purchases, views, "user_id", "pts", "vts", right_cols=["v"]
            ).collect()
        )
        iv = (
            ev.groupBy("user_id")
            .agg(F.min("ts").alias("start_ts"))
            .withColumn("end_ts", F.col("start_ts") + F.expr("INTERVAL 2 HOURS"))
        )
        b = sorted(
            r.event_id
            for r in interval_join(
                ev.select("event_id", "user_id", "ts"),
                iv, "user_id", "ts", "start_ts", "end_ts",
            ).collect()
        )
        c = sorted(
            (r.event_id, r.n_in_window)
            for r in rolling_aggregate(
                ev.select("event_id", "user_id", "ts", "value"),
                "user_id", "ts", "value", 3600.0,
            ).collect()
        )
        d = sorted(
            (r.user_id, r.max_step)
            for r in funnel_steps_windowed(
                ev, ["view", "click", "signup", "purchase"], 86400.0
            ).collect()
        )
        return a, b, c, d

    got_raw = run_all(raw)
    got_conv = run_all(conv)
    assert got_raw == got_conv
    assert all(len(x) > 0 for x in got_raw)


def test_tpch_pattern_plan_shapes(spark):
    """The classic OLAP suite keys must carry their scale properties
    in the executed plan: the Q1-pattern scan pushes the date filter
    and prunes to exactly the needed columns; the Q3/Q5-pattern
    multi-way joins broadcast every filtered dimension (zero
    SortMergeJoin — the fact table shuffles only for the final
    aggregate) and never fall into a cartesian."""
    import re

    from gcp_dataengineering_spark.suite.core import (
        q_local_supplier_volume,
        q_pricing_summary,
        q_shipping_priority,
    )

    sf = "/root/testdata/sf0.001"
    df = q_pricing_summary(spark, sf)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m and "l_orderkey" not in m.group(1), m and m.group(1)  # pruned
    assert "l_tax" in m.group(1)

    for qf in (q_shipping_priority, q_local_supplier_volume):
        df = qf(spark, sf)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" not in plan, plan
        assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
        assert plan.count("BroadcastHashJoin") >= 2


def test_funnel_report_emits_zero_tiers(spark):
    """A declared step no user reached still gets its row with
    n_users = 0 — a chart iterating the step list must never see a
    shorter funnel than it declared."""
    from gcp_dataengineering_spark.ops.funnel import funnel_report

    ev = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", "view")], "user_id long, ts string, event_type string"
    ).withColumn("ts", F.to_timestamp("ts"))
    rep = {r.step: (r.step_name, r.n_users) for r in funnel_report(ev, ["view", "click", "buy"]).collect()}
    assert rep == {1: ("view", 1), 2: ("click", 0), 3: ("buy", 0)}
