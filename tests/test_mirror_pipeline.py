"""Mirror pipeline tests: mode filter/validation, coverage anti-join,
priority scoring/routing, end-to-end mirror with failure containment and
retry semantics, and the A1 summary aggregation."""

from __future__ import annotations

import importlib
import os
import re

import pytest
from pyspark.sql import functions as F

from ensembl_database_loader_spark.pipeline import (
    CoverageError,
    ModeError,
    assert_coverage,
    mirror,
    mode_filter,
    priority_branch,
    priority_score,
    summarize,
)
from ensembl_database_loader_spark.pipeline.mirror import failed_jobs, validate_mode
from ensembl_database_loader_spark.session import local_frame
from tests.test_mysql_dump import build_dump


def _dbs(spark, names):
    return spark.createDataFrame([(n,) for n in names], "database string")


DBS = [
    "homo_sapiens_core_110_38",
    "homo_sapiens_variation_110_38",
    "mus_musculus_core_110_39",
    "ontology_mart_110",
    "gene_mart_110",
]


def test_mode_filter_dispatch(spark):
    found = _dbs(spark, DBS)
    mart = {r.database for r in mode_filter(found, "mart").collect()}
    assert mart == {"ontology_mart_110", "gene_mart_110"}
    ens = {r.database for r in mode_filter(found, "ensembl").collect()}
    assert ens == set(DBS) - mart
    picked = {
        r.database
        for r in mode_filter(found, "all", ["gene_mart_110"]).collect()
    }
    assert picked == {"gene_mart_110"}
    assert mode_filter(found, "all", None).count() == len(DBS)


def test_mode_validation():
    with pytest.raises(ModeError):
        validate_mode("nonsense", None)
    with pytest.raises(ModeError):
        validate_mode("mart", ["explicit_db"])  # DatabaseFactory.pm:83-89


def test_coverage_anti_join(spark):
    accepted = _dbs(spark, DBS[:2])
    assert_coverage(accepted, DBS[:2])  # all present: no raise
    with pytest.raises(CoverageError) as ei:
        assert_coverage(accepted, [DBS[0], "missing_db_1", "missing_db_2"])
    assert ei.value.missing == ["missing_db_1", "missing_db_2"]


def test_priority_scoring_and_routing(spark):
    scored = (
        _dbs(spark, DBS)
        .select(
            "database",
            priority_score(
                "database",
                priority_species=("homo_sapiens", "mus_musculus"),
                priority_groups=("variation",),
            ),
        )
        .select("database", "priority", priority_branch("priority"))
    )
    got = {r.database: (r.priority, r.branch) for r in scored.collect()}
    # homo_sapiens_variation: species(+1) + group(+1) + hs-variation bonus(+1) = 3
    assert got["homo_sapiens_variation_110_38"] == (3, 5)
    assert got["homo_sapiens_core_110_38"] == (1, 3)
    assert got["mus_musculus_core_110_39"] == (1, 3)
    assert got["ontology_mart_110"] == (0, 2)


def test_mirror_routing_starts_no_job(spark, tmp_path, monkeypatch):
    """Routing filters and scores a local relation of the discovered
    names and shuffles them on the driver: it starts no Spark job,
    dispatches every accepted database once with its P2 branch, in an
    order fixed by ``seed``. A coverage miss raises without a job too."""
    mirror_mod = importlib.import_module("ensembl_database_loader_spark.pipeline.mirror")
    work = tmp_path / "work"
    for d in DBS:
        os.makedirs(work / d)
    calls = []
    monkeypatch.setattr(
        mirror_mod, "_load_one",
        lambda spark, work_dir, target_dir, db, branch, *a, **kw: calls.append((db, branch)) or [],
    )
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    orders = []
    for _ in range(2):
        calls.clear()
        mirror(
            spark, str(work), str(tmp_path / "target"),
            priority_species=("homo_sapiens", "mus_musculus"),
            priority_groups=("variation",), seed=7,
        )
        orders.append(list(calls))
    assert set(tracker.getJobIdsForGroup(None)) == before
    assert sorted(orders[0]) == [
        ("gene_mart_110", 2),
        ("homo_sapiens_core_110_38", 3),
        ("homo_sapiens_variation_110_38", 5),
        ("mus_musculus_core_110_39", 3),
        ("ontology_mart_110", 2),
    ]
    assert orders[0] == orders[1]
    accepted = mode_filter(local_frame(spark, [(d,) for d in DBS], "database string"), "mart")
    with pytest.raises(CoverageError) as ei:
        assert_coverage(accepted, ["gene_mart_110", "zz_missing", "homo_sapiens_core_110_38"])
    assert ei.value.missing == ["homo_sapiens_core_110_38", "zz_missing"]
    assert set(tracker.getJobIdsForGroup(None)) == before


def test_mirror_end_to_end(spark, tmp_path):
    work = tmp_path / "work"
    target = tmp_path / "target"
    os.makedirs(work)
    build_dump(str(work), "alpha_core_1_1")
    build_dump(str(work), "beta_mart_1", gz_checksums=True)
    report = mirror(
        spark,
        str(work),
        str(target),
        priority_species=("alpha",),
        max_concurrent=2,
    )
    assert report.failed_databases == []
    # both dbs fully mirrored: parquet rows match fixture
    orders = spark.read.parquet(str(target / "alpha_core_1_1" / "orders"))
    assert orders.count() == 3
    region = spark.read.parquet(str(target / "beta_mart_1" / "region"))
    assert region.count() == 3
    summary = {
        r.analysis: (r.successful_dbs, r.failed_dbs)
        for r in summarize(report.to_df(spark)).collect()
    }
    assert summary == {"verify": (2, 0), "load": (2, 0)}


def test_mirror_failure_containment_and_summary(spark, tmp_path):
    work = tmp_path / "work"
    target = tmp_path / "target"
    os.makedirs(work)
    build_dump(str(work), "good_core_1_1")
    bad = build_dump(str(work), "bad_core_1_1")
    with open(os.path.join(bad, "region.txt.gz"), "ab") as f:
        f.write(b"corrupt")
    missing = build_dump(str(work), "missing_core_1_1")
    os.remove(os.path.join(missing, "orders.0002.txt.gz"))
    report = mirror(
        spark, str(work), str(target), failed_tolerance=0.7, max_retry=0
    )
    assert report.failed_databases == ["bad_core_1_1", "missing_core_1_1"]
    failed = {r.database: r for r in failed_jobs(report.to_df(spark)).collect()}
    assert {r.analysis for r in failed.values()} == {"verify"}
    # the report names the part and what was found; a missing part reads
    # '-' (DownloadDatabase.pm:157); nothing of a failed db is written
    for db, part, actual in [
        ("bad_core_1_1", "region.txt.gz", r"\d{5} \d+"),
        ("missing_core_1_1", "orders.0002.txt.gz", "-"),
    ]:
        found = rf"{re.escape(part)}: expected \d{{5}} \d+ got {actual}(,|$)"
        assert re.search(found, failed[db].error)
        assert not os.path.exists(target / db)
    # good db still mirrored (containment, LoadDBs_conf.pm failed_job_tolerance)
    assert os.path.isdir(str(target / "good_core_1_1" / "region"))
    # tolerance exceeded when everything fails
    with pytest.raises(RuntimeError, match="tolerance"):
        mirror(spark, str(work), str(tmp_path / "t2"), failed_tolerance=0.2, max_retry=0)


def test_mirror_verify_without_sum_tool(spark, tmp_path, monkeypatch):
    """Verify runs coreutils ``sum``; without it on PATH the database
    fails at verify with an error naming the tool, and is not loaded."""
    work = tmp_path / "work"
    os.makedirs(work)
    build_dump(str(work), "nosum_core_1_1")
    os.makedirs(tmp_path / "empty_bin")
    monkeypatch.setenv("PATH", str(tmp_path / "empty_bin"))
    report = mirror(
        spark, str(work), str(tmp_path / "target"), max_retry=0, failed_tolerance=1.0
    )
    (failed,) = [r for r in report.results if r.status == "FAILED"]
    assert failed.analysis == "verify"
    assert "`sum`" in failed.error and "not found" in failed.error
    assert not os.path.exists(tmp_path / "target" / "nosum_core_1_1")


def test_mirror_failure_text_keeps_type_and_every_file(spark, tmp_path):
    """A verify failure over many parts is stored whole: the exception
    type first, then every corrupted file the ChecksumError lists."""
    work = tmp_path / "work"
    os.makedirs(work)
    bad = build_dump(str(work), "many_parts_core_1_1", extra_order_parts=30)
    corrupted = sorted(f for f in os.listdir(bad) if f.startswith("orders."))
    assert len(corrupted) == 32
    for fn in corrupted:
        with open(os.path.join(bad, fn), "ab") as f:
            f.write(b"corrupt")
    report = mirror(
        spark, str(work), str(tmp_path / "target"), max_retry=0, failed_tolerance=1.0
    )
    (failed,) = [r for r in report.results if r.status == "FAILED"]
    assert failed.analysis == "verify"
    assert failed.error.startswith("ChecksumError")
    assert [fn for fn in corrupted if fn not in failed.error] == []


def test_mirror_load_failure_containment(spark, tmp_path):
    """Without verify, a part truncated mid-gzip-stream fails its
    database at the load stage; the other database still mirrors."""
    work = tmp_path / "work"
    target = tmp_path / "target"
    os.makedirs(work)
    build_dump(str(work), "good_core_1_1")
    bad = build_dump(str(work), "bad_core_1_1")
    part = os.path.join(bad, "orders.0002.txt.gz")
    with open(part, "rb") as f:
        data = f.read()
    with open(part, "wb") as f:
        f.write(data[: len(data) // 2])
    report = mirror(
        spark, str(work), str(target), verify=False, max_retry=0, failed_tolerance=0.5
    )
    status = {(r.database, r.analysis): r.status for r in report.results}
    assert status[("bad_core_1_1", "load")] == "FAILED"
    assert status[("good_core_1_1", "load")] == "DONE"
    (failed,) = failed_jobs(report.to_df(spark)).collect()
    assert "orders.0002.txt.gz" in failed.error
    orders = spark.read.parquet(str(target / "good_core_1_1" / "orders"))
    assert sorted(r.o_orderkey for r in orders.collect()) == [1, 2, 3]


def test_mirror_preexisting_target_retry_semantics(spark, tmp_path):
    work = tmp_path / "work"
    target = tmp_path / "target"
    os.makedirs(work)
    build_dump(str(work), "gamma_core_1_1")
    os.makedirs(target / "gamma_core_1_1")  # pre-existing target dir
    # max_retry=0: first-attempt collision is a FAILURE (LoadFiles.pm:56-64)
    r0 = mirror(
        spark, str(work), str(target), max_retry=0, failed_tolerance=1.0
    )
    assert r0.failed_databases == ["gamma_core_1_1"]
    # the collision is a load failure: the dump itself verified clean
    stages = {r.analysis: r for r in r0.results}
    assert stages["verify"].status == "DONE"
    assert stages["load"].status == "FAILED"
    assert stages["load"].error.startswith("FileExistsError")
    # max_retry=1: retry drops the stale target and reloads
    r1 = mirror(spark, str(work), str(target), max_retry=1, failed_tolerance=1.0)
    assert r1.failed_databases == []
    assert spark.read.parquet(str(target / "gamma_core_1_1" / "region")).count() == 3


def test_sink_statement_builders():
    from ensembl_database_loader_spark.sinks import bulk_load_statements, grant_statements

    stmts = bulk_load_statements("orders", "/tmp/orders.txt")
    assert stmts[0] == "ALTER TABLE `orders` DISABLE KEYS"
    assert "LOAD DATA LOCAL INFILE '/tmp/orders.txt'" in stmts[1]
    assert "FIELDS ESCAPED BY '\\\\'" in stmts[1]
    assert stmts[2] == "ALTER TABLE `orders` ENABLE KEYS"
    assert stmts[3] == "ANALYZE TABLE `orders`"
    g = grant_statements("homo_sapiens_core_110_38")
    assert g[0] == "GRANT SELECT, EXECUTE ON `homo_sapiens_core_110_38`.* TO 'anonymous'@'%'"
    assert g[-1] == "FLUSH PRIVILEGES"
    # Prerelease loads grant NOTHING — not even the flush (Grant.pm:77-78,
    # 96-97): the database stays invisible to public users until release.
    assert grant_statements("homo_sapiens_core_110_38", prerelease=True) == []


def test_render_email_summary_matches_reference_template(spark):
    """Byte-level check of the reference's email body
    (EmailSummary.pm:88-103): seven fixed success/fail pairs in pipeline
    order, branch-split load slots, and both failed-section variants."""
    from ensembl_database_loader_spark.pipeline import render_email_summary
    from ensembl_database_loader_spark.pipeline.mirror import JobResult, MirrorReport

    ok = MirrorReport(
        results=[
            JobResult("a_core_1", "verify", "DONE", branch=2),
            JobResult("a_core_1", "load", "DONE", branch=2),
            JobResult("homo_sapiens_variation_1", "verify", "DONE", branch=5),
            JobResult("homo_sapiens_variation_1", "load", "DONE", branch=5),
        ]
    )
    text = render_email_summary(ok.to_df(spark))
    assert text.startswith(
        "Your Ensembl Mirrors Pipeline has finished. We have:\n"
    )
    assert "  * 2 databases successfully downloaded (0 failed)\n" in text
    assert "  * 2 databases successfully prioritised (0 failed)\n" in text
    assert "  * 1 human variation database successfully loaded (0 failed)\n" in text
    assert "  * 0 super priority databases successfully loaded (0 failed)\n" in text
    assert "  * 1 databases successfully loaded (0 failed)\n" in text
    assert "  * 0 databases were successfully granted access (0 failed)\n" in text
    assert "No jobs failed. Congratulations!" in text

    bad = MirrorReport(
        results=[
            JobResult("b_core_1", "verify", "FAILED", error="checksum", branch=2),
        ]
    )
    # Reference heredoc ends "%s\n\nMSG" — body must end with a blank
    # line after the failed-jobs section (EmailSummary.pm:99-101).
    assert text.endswith("No jobs failed. Congratulations!\n\n")

    text = render_email_summary(bad.to_df(spark))
    assert "  * 0 databases successfully downloaded (1 failed)\n" in text
    # A failed download produces no prioritise job in the reference, so
    # a verify-FAILED database must not count as prioritised.
    assert "  * 0 databases successfully prioritised (0 failed)\n" in text
    assert (
        "The following jobs have failed during this run. Please check "
        "your hive's error msg table for the following jobs:" in text
    )
    assert "  * job_id=1 verify(    1) input_id='{database => b_core_1}'" in text


def test_profiles_default_prerelease_off():
    from ensembl_database_loader_spark.profiles import get_profile

    for name in ("ensembl", "eg"):
        assert get_profile(name).prerelease is False  # LoadDBs_conf.pm:66


def test_profile_prerelease_drives_paths_and_grants():
    """Profile.prerelease is live, not a dead config knob: one field
    flips BOTH the hidden source dot-dir (Base.pm:62-74) and the
    grant skip (Grant.pm:77-78, 96-97)."""
    import dataclasses

    from ensembl_database_loader_spark.profiles import get_profile

    released = get_profile("ensembl")
    pre = dataclasses.replace(released, prerelease=True, release=110)

    assert dataclasses.replace(released, release=110).source_path() == (
        "/pub/release-110/mysql"
    )
    assert pre.source_path() == "/pub/.release-110/mysql"
    assert pre.nfs_source_dir("/nfs/ftp") == "/nfs/ftp/pub/.release-110/mysql"
    assert pre.source_path(division="plants") == "/pub/.release-110/plants/mysql"

    assert released.grants("homo_sapiens_core_110_38")[-1] == "FLUSH PRIVILEGES"
    assert pre.grants("homo_sapiens_core_110_38") == []


def test_parquet_mirror_sink_registers_and_analyzes(spark, tmp_path):
    from ensembl_database_loader_spark.sinks import write_parquet_mirror

    df = spark.range(10).select(F.col("id").alias("k"))
    write_parquet_mirror(spark, df, "mirror_db_test", "t1", str(tmp_path / "cat"))
    assert spark.sql("SELECT COUNT(*) c FROM mirror_db_test.t1").first().c == 10
    stats = spark.sql("DESCRIBE EXTENDED mirror_db_test.t1").collect()
    assert any("Statistics" in str(r) for r in stats)  # ANALYZE ran
    spark.sql("DROP TABLE mirror_db_test.t1")
    spark.sql("DROP DATABASE mirror_db_test")


def test_cli_end_to_end(tmp_path, spark):
    """python -m ensembl_database_loader_spark against a fixture dump
    (reuses the session via main's get_spark -> getOrCreate)."""
    from ensembl_database_loader_spark.cli import main

    work = tmp_path / "cliwork"
    os.makedirs(work)
    build_dump(str(work), "cli_core_1_1")
    rc = main([
        "--work-dir", str(work),
        "--target-dir", str(tmp_path / "clitarget"),
        "--mode", "ensembl",
        "--priority-species", "cli",
    ])
    assert rc == 0
    assert spark.read.parquet(str(tmp_path / "clitarget" / "cli_core_1_1" / "orders")).count() == 3


def test_cli_eg_profile_end_to_end(tmp_path, spark):
    """--profile eg runs with the LoadDBs_EG_conf defaults (capacity 8,
    rsync off, priority groups core/variation, no priority species) on a
    fixture dump."""
    from ensembl_database_loader_spark.cli import main

    work = tmp_path / "egwork"
    os.makedirs(work)
    build_dump(str(work), "bacteria_core_1_1")
    rc = main([
        "--work-dir", str(work),
        "--target-dir", str(tmp_path / "egtarget"),
        "--profile", "eg",
    ])
    assert rc == 0
    got = spark.read.parquet(str(tmp_path / "egtarget" / "bacteria_core_1_1" / "orders"))
    assert got.count() == 3


def test_profile_resolution_precedence():
    """Profile supplies defaults; explicit flags win; no profile keeps
    the original CLI defaults."""
    from ensembl_database_loader_spark.cli import build_parser, resolve_options
    from ensembl_database_loader_spark.profiles import get_profile

    eg = get_profile("eg")
    assert eg.ftp_host == "ftp.ensemblgenomes.org"  # LoadDBs_EG_conf.pm:37
    assert eg.rsync is False and eg.release == "current"
    assert eg.download_himem and eg.high_priority_load_capacity == 8
    assert eg.priority_species == () and eg.priority_groups == ("core", "variation")

    ens = get_profile("ensembl")
    assert ens.ftp_host == "ftp.ensembl.org" and ens.rsync is True
    assert ens.priority_species == ("homo_sapiens", "mus_musculus", "danio_rerio")

    p = build_parser()
    base = ["--work-dir", "w", "--target-dir", "t"]
    opts = resolve_options(p.parse_args(base + ["--profile", "eg"]))
    assert opts["max_concurrent"] == 8
    assert opts["priority_groups"] == ("core", "variation")
    assert opts["priority_species"] == ()
    opts = resolve_options(
        p.parse_args(base + ["--profile", "eg", "--max-concurrent", "2"])
    )
    assert opts["max_concurrent"] == 2  # explicit flag beats profile
    opts = resolve_options(p.parse_args(base))
    assert opts["max_concurrent"] == 4 and opts["priority_groups"] == ()


def test_mirror_strict_escapes_plumbed(spark, tmp_path):
    """mirror(strict_escapes=True) must decode escaped tabs/newlines
    exactly (the fast csv path would mis-split these rows)."""
    import gzip as _gzip

    from ensembl_database_loader_spark.pipeline import mirror

    name = "esc_mirror_1_1"
    d = os.path.join(str(tmp_path), "w", name)
    os.makedirs(d)
    ddl = "CREATE TABLE `t` (`id` int(11), `v` text) ENGINE=MyISAM;"
    with open(os.path.join(d, f"{name}.sql.gz"), "wb") as f:
        f.write(_gzip.compress(ddl.encode()))
    body = "1\thas\\\ttab\n2\tline\\\nbreak\n"
    with open(os.path.join(d, "t.txt.gz"), "wb") as f:
        f.write(_gzip.compress(body.encode()))
    report = mirror(
        spark,
        work_dir=str(tmp_path / "w"),
        target_dir=str(tmp_path / "t"),
        verify=False,
        strict_escapes=True,
    )
    assert not report.failed_databases
    got = {
        r.id: r.v
        for r in spark.read.parquet(str(tmp_path / "t" / name / "t")).collect()
    }
    assert got == {1: "has\ttab", 2: "line\nbreak"}


def test_incremental_streaming_mirror(spark, tmp_path):
    """New dump parts landing over time append exactly once."""
    import gzip

    from ensembl_database_loader_spark.pipeline.incremental import (
        incremental_mirror,
        stream_dump_parts,
    )
    from ensembl_database_loader_spark.sources import parse_mysql_ddl
    from tests.test_mysql_dump import DDL, ROWS_ORDERS_P1, ROWS_ORDERS_P2, _tsv

    landing = tmp_path / "landing"
    target = str(tmp_path / "inc_orders")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(landing)
    schema = parse_mysql_ddl(DDL).tables["orders"]
    with open(landing / "orders.0001.txt.gz", "wb") as f:
        f.write(gzip.compress(_tsv(ROWS_ORDERS_P1)))
    s = stream_dump_parts(spark, str(landing), schema)
    assert s.isStreaming
    q = incremental_mirror(s, target, ckpt)
    q.awaitTermination(120)
    assert spark.read.parquet(target).count() == 2
    # a new part lands: only the delta is appended (checkpointed)
    with open(landing / "orders.0002.txt.gz", "wb") as f:
        f.write(gzip.compress(_tsv(ROWS_ORDERS_P2)))
    q2 = incremental_mirror(stream_dump_parts(spark, str(landing), schema), target, ckpt)
    q2.awaitTermination(120)
    got = spark.read.parquet(target).orderBy("o_orderkey")
    assert [r.o_orderkey for r in got.collect()] == [1, 2, 3]
    assert got.filter(F.col("o_orderdate").isNull()).count() == 1  # zero-date


@pytest.mark.slow
def test_fair_pools_prioritize_under_contention(spark):
    """P2 contention evidence (LoadDBs_conf.pm:155,165,177 scheduler
    priorities): with every core saturated by a multi-wave load_normal
    (weight 1) backlog, a later-submitted load_p3 job (weight 8,
    minShare 2) must still get task slots as they free and finish well
    before the backlog drains — under FIFO its tasks would queue
    behind every queued wave and take nearly the backlog's remaining
    time. Thread-scoped spark.scheduler.pool tagging is exactly what
    mirror()'s worker threads do (_load_one).

    Timing-based by nature, so the assertion is the one a loaded CI
    machine cannot blur: FINISH-ORDER interleaving. The high job is 2
    short tasks submitted a full wave into a ~4-wave backlog; under
    FIFO those 2 tasks queue behind every remaining backlog task, so
    the high job can only finish AFTER the backlog (plus its own run
    time). Under FAIR it finishes while the backlog still runs.
    External machine load slows both pools together and cannot flip
    that ordering — unlike a duration RATIO, which contention breaks
    (observed: a concurrent heavy job stretched 0.1 s of high-pool
    sleeps to 7.3 s of wall, while finish order still held)."""
    import threading
    import time

    sc = spark.sparkContext
    assert sc.getConf().get("spark.scheduler.mode") == "FAIR"
    res: dict[str, tuple[float, float]] = {}

    def run(pool: str, n_tasks: int, sleep: float, key: str) -> None:
        sc.setLocalProperty("spark.scheduler.pool", pool)
        try:
            t0 = time.perf_counter()
            spark.range(n_tasks).repartition(n_tasks).foreachPartition(
                lambda it: __import__("time").sleep(sleep)
            )
            res[key] = (t0, time.perf_counter())
        finally:
            sc.setLocalProperty("spark.scheduler.pool", None)

    # warm the task-dispatch path so JIT/startup doesn't blur the race
    run("load_normal", 4, 0.01, "warm")

    n_cores = spark.sparkContext.defaultParallelism
    waves, sleep = 4, 0.3
    low = threading.Thread(
        target=run, args=("load_normal", n_cores * waves, sleep, "low")
    )
    low.start()
    time.sleep(sleep)  # ~1 wave: the backlog saturates the cores
    run("load_p3", 2, 0.05, "high")
    low.join()

    (low_start, low_end), (high_start, high_end) = res["low"], res["high"]
    # under FIFO the 2 high tasks queue behind every remaining backlog
    # task, so high_end >= low_end; under FAIR they take slots as the
    # current wave frees and the high job finishes mid-backlog. Finish
    # ORDER is load-invariant — no duration ratios (they flake when
    # the machine is shared).
    assert high_start > low_start, "backlog must be running first"
    assert high_end < low_end, (
        f"FAIR pool gave no priority: high finished {high_end - low_end:+.2f}s "
        "after the backlog"
    )
