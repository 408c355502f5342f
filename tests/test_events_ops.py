"""Event analytics operators (operators/events.py) vs pure-Python
references, including tie/edge cases, plus plan-shape gates."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from ensembl_database_loader_spark.operators.events import (
    conversion_funnel,
    sessionize,
)


def _py_sessions(rows, gap):
    """rows: (user, ts, tie). Returns {(user, tie): sess}."""
    out = {}
    by_user = {}
    for u, ts, tb in rows:
        by_user.setdefault(u, []).append((ts, tb))
    for u, evs in by_user.items():
        evs.sort()
        sess, prev = 0, None
        for ts, tb in evs:
            if prev is None or ts - prev > gap:
                sess += 1
            out[(u, tb)] = sess
            prev = ts
    return out


def _py_funnel(rows, steps, within):
    """rows: (user, type, ts, tie). Returns {user: (s1..sN)}."""
    by_user = {}
    for u, ty, ts, tb in rows:
        by_user.setdefault(u, []).append((ts, tb, ty))
    out = {}
    for u, evs in by_user.items():
        evs.sort()
        firsts = [None] * len(steps)
        done = [0] * len(steps)
        for ts, _tb, ty in evs:
            for i, step in enumerate(steps):
                if ty != step:
                    continue
                if i == 0:
                    ok = True
                else:
                    prev = firsts[i - 1]
                    ok = (
                        prev is not None
                        and ts > prev
                        and (within is None or ts <= prev + within)
                    )
                if ok:
                    done[i] = 1
                    if firsts[i] is None or ts < firsts[i]:
                        firsts[i] = ts
        out[u] = tuple(done)
    return out


def test_sessionize_matches_python_reference_with_ties(spark):
    rng = random.Random(42)
    rows = []
    tb = 0
    for u in range(20):
        t = 0
        for _ in range(rng.randint(1, 40)):
            t += rng.choice([0, 1, 5, 100, 1000])  # includes exact ties
            rows.append((u, t, tb))
            tb += 1
    df = spark.createDataFrame(rows, "u bigint, ts bigint, tb bigint")
    got = {
        (r.u, r.tb): r.sess
        for r in sessionize(df, "u", "ts", "tb", gap_us=50).collect()
    }
    assert got == _py_sessions(rows, 50)
    # layout independence
    got2 = {
        (r.u, r.tb): r.sess
        for r in sessionize(df.repartition(13), "u", "ts", "tb", gap_us=50).collect()
    }
    assert got2 == got


def test_conversion_funnel_matches_python_reference(spark):
    rng = random.Random(7)
    steps = ("a", "b", "c")
    rows = []
    tb = 0
    for u in range(40):
        t = 0
        for _ in range(rng.randint(1, 30)):
            t += rng.choice([0, 1, 10, 200])
            rows.append((u, rng.choice(["a", "b", "c", "x"]), t, tb))
            tb += 1
    df = spark.createDataFrame(rows, "u bigint, ty string, ts bigint, tb bigint")
    for within in (None, 50):
        got = {
            r.u: (r.s1, r.s2, r.s3)
            for r in conversion_funnel(
                df, "u", "ty", "ts", "tb", steps, step_within_us=within
            ).collect()
        }
        assert got == _py_funnel(rows, steps, within), within


def test_funnel_strictness_and_single_shuffle(spark):
    # same-instant step-2 must NOT advance the funnel
    rows = [(1, "a", 10, 0), (1, "b", 10, 1), (1, "b", 11, 2), (1, "c", 12, 3)]
    df = spark.createDataFrame(rows, "u bigint, ty string, ts bigint, tb bigint")
    r = conversion_funnel(df, "u", "ty", "ts", "tb", ("a", "b", "c")).collect()[0]
    assert (r.s1, r.s2, r.s3) == (1, 1, 1)  # the ts=11 'b' qualifies
    r2 = conversion_funnel(
        df.filter(F.col("tb") != 2), "u", "ty", "ts", "tb", ("a", "b", "c")
    ).collect()[0]
    assert (r2.s1, r2.s2, r2.s3) == (1, 0, 0)  # only the tied 'b' left
    # N-step funnel is still ONE shuffle + one sort
    plan = (
        conversion_funnel(df, "u", "ty", "ts", "tb", ("a", "b", "c"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Sort [") == 1


def test_events_operators_reject_column_collisions(spark):
    import pytest

    df = spark.createDataFrame(
        [(1, "a", 10, 0, 9)], "u bigint, ty string, ts bigint, tb bigint, sess bigint"
    )
    with pytest.raises(ValueError, match="sess"):
        sessionize(df, "u", "ts", "tb", gap_us=5)
    df2 = df.withColumnRenamed("sess", "__cf_q0")
    with pytest.raises(ValueError, match="clash"):
        conversion_funnel(df2, "u", "ty", "ts", "tb", ("a",))


def test_cohort_retention_triangle(spark):
    """Hand-built retention: users u1/u2 join week 0, u3 joins week 1;
    u1 returns weeks 1 and 2, u2 never returns, u3 returns week 2."""
    from ensembl_database_loader_spark.operators.events import cohort_retention

    wk = 7 * 86_400_000_000
    rows = [
        ("u1", 0), ("u1", wk), ("u1", 2 * wk),
        ("u2", 100),
        ("u3", wk + 5), ("u3", 2 * wk + 5),
    ]
    df = spark.createDataFrame(rows, "user_id string, tsu bigint").select(
        "user_id", F.timestamp_micros("tsu").alias("ts")
    )
    got = {
        (r.cohort, r.offset): r.n_users
        for r in cohort_retention(df, "user_id", "ts").collect()
    }
    assert got == {
        (0, 0): 2,  # u1, u2
        (0, 1): 1,  # u1
        (0, 2): 1,  # u1
        (1, 0): 1,  # u3
        (1, 1): 1,  # u3
    }
    # plan: exactly two exchanges (user hash for the window, cell hash
    # for the aggregate) — no log-sized join
    plan = (
        cohort_retention(df, "user_id", "ts")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange") <= 3  # 2 + possible AQE final coalesce
    assert "Join" not in plan


def test_rolling_anomalies_flags_spike_not_baseline(spark):
    """A 10x spike after a stable week alarms; stable days don't; the
    spike day's own count never pollutes its baseline; flat baselines
    (std 0) yield null z and no alarm."""
    import datetime as dt

    import pytest

    from ensembl_database_loader_spark.operators.events import (
        rolling_anomalies,
    )

    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    # key 'a': days 0-7 have 10±1 events (varying), day 8 has 100
    per_day = [10, 11, 9, 10, 11, 9, 10, 11, 100]
    for d, n in enumerate(per_day):
        for _ in range(n):
            rows.append(("a", base + dt.timedelta(days=d, seconds=eid % 80000)))
            eid += 1
    # key 'b': perfectly flat 5/day -> std 0 -> never anomalous
    for d in range(9):
        for _ in range(5):
            rows.append(("b", base + dt.timedelta(days=d, seconds=eid % 80000)))
            eid += 1
    df = spark.createDataFrame(rows, "event_type string, ts timestamp")
    out = {
        (r.key, r.day): r
        for r in rolling_anomalies(df, trailing=7, z_threshold=3.0).collect()
    }
    d0 = min(d for k, d in out if k == "a")
    spike = out[("a", d0 + 8)]
    assert spike.anomalous and spike.z > 3.0
    assert spike.cnt == 100 and spike.n_base == 7
    # baseline mean excludes the spike day itself
    assert 9.0 <= spike.base_mean <= 11.5
    # a normal mid-week day is quiet
    assert not out[("a", d0 + 5)].anomalous
    # first day has no baseline at all
    assert out[("a", d0)].z is None and not out[("a", d0)].anomalous
    # flat key: std 0 -> null z, never anomalous
    assert all(
        out[(k, d)].z is None and not out[(k, d)].anomalous
        for (k, d) in out
        if k == "b"
    )
    with pytest.raises(ValueError, match="trailing"):
        rolling_anomalies(df, trailing=1)


def test_rolling_anomalies_densifies_dark_and_gap_days(spark):
    """A source that goes fully dark gets cnt=0 rows (and alarms) up to
    the GLOBAL last observed day; calendar gaps inside a key's range
    fill with zeros so the ROWS-based trailing window stays calendar-
    true; densify=False reproduces the sparse grid."""
    import datetime as dt

    from ensembl_database_loader_spark.operators.events import (
        rolling_anomalies,
    )

    base = dt.datetime(2024, 3, 1)
    rows = []
    eid = 0
    # key 'c': varying ~20/day for days 0-6, then DARK (no rows at all)
    for d, n in enumerate([20, 21, 19, 20, 21, 19, 20]):
        for _ in range(n):
            rows.append(("c", base + dt.timedelta(days=d, seconds=eid % 80000)))
            eid += 1
    # key 'd': alive through day 10 (defines the global max day), with
    # a one-day calendar gap at day 5
    for d in range(11):
        if d == 5:
            continue
        for _ in range(3 + (d % 2)):
            rows.append(("d", base + dt.timedelta(days=d, seconds=eid % 80000)))
            eid += 1
    df = spark.createDataFrame(rows, "event_type string, ts timestamp")
    out = {
        (r.key, r.day): r
        for r in rolling_anomalies(df, trailing=7, z_threshold=3.0).collect()
    }
    d0 = min(d for k, d in out if k == "c")
    # dark days materialize as cnt=0 through the global max day
    assert ("c", d0 + 7) in out and ("c", d0 + 10) in out
    for d in range(7, 11):
        assert out[("c", d0 + d)].cnt == 0
    # the first dark day alarms: |0 - ~20| / std(~0.8) >> 3
    assert out[("c", d0 + 7)].anomalous and out[("c", d0 + 7)].z < -3.0
    # the calendar gap inside key 'd' fills with an explicit zero row
    assert out[("d", d0 + 5)].cnt == 0
    # sparse mode: no fabricated rows at all
    sparse = {
        (r.key, r.day)
        for r in rolling_anomalies(
            df, trailing=7, z_threshold=3.0, densify=False
        ).collect()
    }
    assert ("c", d0 + 7) not in sparse and ("d", d0 + 5) not in sparse
