"""Mirror pipeline: the reference's DAG (discover -> filter -> verify ->
prioritise -> load -> summarize) as a plain PySpark program.

The reference runs this as an eHive DAG with per-database jobs on an
LSF cluster (LoadDBs_conf.pm:103-214). Spark-first, the orchestration
is driver code: database names are a small local relation (thousands
at most; routing them starts no Spark job) shuffled on the driver,
per-database loads are Spark jobs submitted from a bounded thread pool
into FAIR scheduler pools keyed by priority class, and the final email
summary becomes a report DataFrame aggregation.

Operator parity (SURVEY.md §2.1):
- S2  discover_local_databases   (DatabaseFactory.pm:124-139)
- F1  mode_filter regex dispatch (DatabaseFactory.pm:32-53,110-121)
- F2  mode validation            (DatabaseFactory.pm:68-90)
- F3  assert_coverage set diff   (DatabaseFactory.pm:152-167)
- X1  fan-out, seeded shuffle    (LoadDBs_conf.pm:113-122)
- P1  priority_score             (Prioritise.pm:32-68)
- P2  priority_branch routing    (Prioritise.pm:70-81; LoadDBs_conf.pm:139-144)
- D3  checksum verify            (sources.mysql_dump.verify_checksums)
- L1-L6 load                     (sources.mysql_dump + the sink)
- A1-A4 summary aggregation      (EmailSummary.pm:88-176)

Failure semantics: per-database failures are contained and accounted
(the reference's -failed_job_tolerance, LoadDBs_conf.pm:133,166,178);
the run raises only if the failed fraction exceeds the tolerance.
Retry semantics: on attempt > 0 an existing target is overwritten
(DownloadDatabase.pm:172-186, LoadFiles.pm:56-64); on attempt 0 a
pre-existing target raises.
"""

from __future__ import annotations

import os
import random
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ensembl_database_loader_spark.session import local_frame
from ensembl_database_loader_spark.sources.discovery import prepare_target_dir
from ensembl_database_loader_spark.sources.mysql_dump import read_mysql_dump

VALID_MODES = ("all", "ensembl", "mart")  # DatabaseFactory.pm:32-53
MART_PATTERN = "_mart_"  # DatabaseFactory.pm:34-39

#: priority score -> dataflow branch (Prioritise.pm:70-81)
PRIORITY_BRANCHES = {0: 2, 1: 3, 2: 4, 3: 5}
#: branch -> FAIR pool name; scheduler priorities 0/10/20/30 map to
#: pool weights (LoadDBs_conf.pm:155,165,177)
BRANCH_POOLS = {2: "load_normal", 3: "load_p1", 4: "load_p2", 5: "load_p3"}


class ModeError(ValueError):
    """Unknown mode, or an explicit db list with mode != all
    (DatabaseFactory.pm:68-90)."""


class CoverageError(RuntimeError):
    """Requested databases never seen by the factory; carries the
    missing set (DatabaseFactory.pm:152-167)."""

    def __init__(self, missing: list[str]):
        self.missing = missing
        super().__init__(f"requested databases not found: {sorted(missing)}")


def discover_local_databases(work_dir: str) -> list[str]:
    """Non-dot subdirectories of the work/NFS dir — the S2 source
    (DatabaseFactory.pm:124-139)."""
    return sorted(
        e.name
        for e in os.scandir(work_dir)
        if e.is_dir() and not e.name.startswith(".")
    )


def validate_mode(mode: str, databases: list[str] | None) -> None:
    if mode not in VALID_MODES:
        raise ModeError(f"unknown mode {mode!r}; expected one of {VALID_MODES}")
    if databases and mode != "all":
        raise ModeError(
            f"explicit database list requires mode 'all', got {mode!r}"
        )  # DatabaseFactory.pm:83-89


def mode_filter(
    found: DataFrame, mode: str, databases: list[str] | None = None
) -> DataFrame:
    """F1 regex-predicate dispatch on a DataFrame(database):
    mart => name matches _mart_; ensembl => it doesn't; all => membership
    in the user list, or pass-through when the list is empty."""
    col = F.col("database")
    if mode == "mart":
        return found.filter(col.rlike(MART_PATTERN))
    if mode == "ensembl":
        return found.filter(~col.rlike(MART_PATTERN))
    if databases:
        return found.filter(col.isin(databases))
    return found


def assert_coverage(accepted: DataFrame, requested: list[str]) -> None:
    """F3: every requested db must have been accepted — set difference
    against the collected names, raise with the missing ones sorted."""
    if not requested:
        return
    missing = set(requested) - {r.database for r in accepted.select("database").collect()}
    if missing:
        raise CoverageError(sorted(missing))


def priority_score(
    db_col: Column | str,
    priority_species: tuple[str, ...] = (),
    priority_groups: tuple[str, ...] = (),
) -> Column:
    """P1 scoring (Prioritise.pm:32-68): +1 for a ^species prefix match,
    +1 for a _group_ infix match, +1 more for ^homo_sapiens.*_variation_."""
    col = F.col(db_col) if isinstance(db_col, str) else db_col
    score = F.lit(0)
    if priority_species:
        species_re = "^(" + "|".join(priority_species) + ")"
        score = score + F.when(col.rlike(species_re), 1).otherwise(0)
    if priority_groups:
        group_re = "_(" + "|".join(priority_groups) + ")_"
        score = score + F.when(col.rlike(group_re), 1).otherwise(0)
    score = score + F.when(col.rlike("^homo_sapiens.*_variation_"), 1).otherwise(0)
    return score.alias("priority")


def priority_branch(priority_col: Column | str) -> Column:
    """P2: map score -> dataflow branch {0:2,1:3,2:4,3:5}."""
    col = F.col(priority_col) if isinstance(priority_col, str) else priority_col
    expr = F.lit(PRIORITY_BRANCHES[0])
    for score, branch in PRIORITY_BRANCHES.items():
        expr = F.when(col == score, branch).otherwise(expr)
    return expr.alias("branch")


@dataclass
class JobResult:
    """One per-database per-stage outcome — the analogue of a hive job
    row (analysis, status, database) read back by EmailSummary.pm:106-139."""

    database: str
    analysis: str  # 'verify' | 'load'
    status: str  # 'DONE' | 'FAILED'
    attempt: int = 0
    error: str | None = None
    branch: int = 2  # P2 dataflow branch (2 normal .. 5 human variation)


@dataclass
class MirrorReport:
    results: list[JobResult] = field(default_factory=list)

    def to_df(self, spark: SparkSession) -> DataFrame:
        return local_frame(
            spark,
            [
                (r.database, r.analysis, r.status, r.attempt, r.error, r.branch)
                for r in self.results
            ],
            "database string, analysis string, status string, attempt int, "
            "error string, branch int",
        )

    @property
    def failed_databases(self) -> list[str]:
        return sorted({r.database for r in self.results if r.status == "FAILED"})


def summarize(report_df: DataFrame) -> DataFrame:
    """A1: per-analysis distinct-database DONE/FAILED counts — the email
    summary's aggregation (EmailSummary.pm:130-137) as a real groupBy."""
    return (
        report_df.groupBy("analysis")
        .agg(
            F.countDistinct(
                F.when(F.col("status") == "DONE", F.col("database"))
            ).alias("successful_dbs"),
            F.countDistinct(
                F.when(F.col("status") == "FAILED", F.col("database"))
            ).alias("failed_dbs"),
        )
        .orderBy("analysis")
    )


def render_report(report_df: DataFrame) -> str:
    """A4: the email summary body (EmailSummary.pm:88-103) rendered from
    the report DataFrame — success/fail pairs per analysis plus the
    failed-job listing (A2 format: database / analysis / error). The
    sink is the caller's (log, file, notifier) — no sendmail."""
    lines = ["Mirror pipeline summary", "======================="]
    for r in summarize(report_df).collect():
        lines.append(
            f"{r.analysis}: {r.successful_dbs} succeeded, {r.failed_dbs} failed"
        )
    failures = failed_jobs(report_df).collect()
    if failures:
        lines.append("")
        lines.append("Failed jobs:")
        for r in failures:
            lines.append(f"  {r.database} / {r.analysis}: {r.error}")
    return "\n".join(lines)


#: The reference's email body, verbatim (EmailSummary.pm:88-103): seven
#: fixed success/fail pairs in pipeline order, then the failed-job
#: section.
_EMAIL_TEMPLATE = """Your Ensembl Mirrors Pipeline has finished. We have:

  * %d databases successfully downloaded (%d failed)
  * %d databases successfully prioritised (%d failed)
  * %d human variation database successfully loaded (%d failed)
  * %d super priority databases successfully loaded (%d failed)
  * %d high priority databases successfully loaded (%d failed)
  * %d databases successfully loaded (%d failed)
  * %d databases were successfully granted access (%d failed)

%s

"""

#: Template slot order -> (analysis filter, branch filter). Branches
#: map to the reference's load analyses (LoadDBs_conf.pm:140-143):
#: 2 load_files, 3 high_priority, 4 super_priority, 5 human_variation.
_EMAIL_SLOTS: list[tuple[str, int | None]] = [
    ("verify", None),  # download+checksum stage == reference 'download'
    ("prioritise", None),
    ("load", 5),
    ("load", 4),
    ("load", 3),
    ("load", 2),
    ("grant", None),
]


def render_email_summary(report_df: DataFrame) -> str:
    """A4, byte-faithful variant: the reference's exact sprintf email
    body (EmailSummary.pm:88-103), seven fixed success/fail pairs plus
    the failed-jobs section (wording EmailSummary.pm:151-162; line
    format `job_id=%d %s(%5d) input_id='%s'` with hive's stringified
    `{database => name}` input ids — job/analysis ids are positional
    here since there is no hive database to assign them).

    Slot mapping: our 'verify' stage is the reference's download (the
    download runnable's work IS fetch+checksum); 'prioritise' counts
    only databases whose verify stage is DONE — in the reference a
    prioritise job exists only when its download job succeeded and the
    pure scoring computation cannot fail, so successes == verify-DONE
    and failures == 0; the four load slots split our 'load' rows by P2
    branch; 'grant' counts grant-analysis rows when a JDBC target
    emits them (the parquet mirror has no grant stage, so 0/0). The
    generic ``render_report`` remains the structured alternative."""
    rows = report_df.select("database", "analysis", "status", "branch").collect()
    verified_dbs = {r.database for r in rows if r.analysis == "verify" and r.status == "DONE"}

    def pair(analysis: str, branch: int | None) -> tuple[int, int]:
        if analysis == "prioritise":
            return len(verified_dbs), 0
        hit = [r for r in rows if r.analysis == analysis and branch in (None, r.branch)]
        return tuple(len({r.database for r in hit if r.status == st}) for st in ("DONE", "FAILED"))

    args: list[object] = [n for slot in _EMAIL_SLOTS for n in pair(*slot)]

    failures = failed_jobs(report_df).collect()
    if not failures:
        failed_text = "No jobs failed. Congratulations!"
    else:
        analysis_ids = {"verify": 1, "load": 2, "grant": 3}
        lines = [
            "The following jobs have failed during this run. Please check "
            "your hive's error msg table for the following jobs:",
            "",
        ]
        for i, r in enumerate(failures, start=1):
            lines.append(
                "  * job_id=%d %s(%5d) input_id='{database => %s}'"
                % (i, r.analysis, analysis_ids.get(r.analysis, 0), r.database)
            )
        failed_text = "\n".join(lines) + "\n"
    args.append(failed_text)
    return _EMAIL_TEMPLATE % tuple(args)


def failed_jobs(report_df: DataFrame) -> DataFrame:
    """A2/A3: FAILED rows, failures-first multi-key order
    (EmailSummary.pm:142-176)."""
    return (
        report_df.orderBy(
            F.when(F.col("status") == "FAILED", 0).otherwise(1), "database"
        )
        .filter(F.col("status") == "FAILED")
        .select("database", "analysis", "attempt", "error")
    )


def _load_one(
    spark: SparkSession,
    work_dir: str,
    target_dir: str,
    database: str,
    branch: int,
    attempt: int,
    verify: bool,
    strict_escapes: bool = False,
) -> list[JobResult]:
    """Per-database chain: verify -> load to a parquet mirror. Runs in a
    worker thread; the FAIR pool gives priority classes their weight
    (localProperty is thread-scoped, so each thread tags its own jobs)."""
    results: list[JobResult] = []
    sc = spark.sparkContext
    sc.setLocalProperty("spark.scheduler.pool", BRANCH_POOLS.get(branch, "load_normal"))
    try:
        src = os.path.join(work_dir, database)
        tables = read_mysql_dump(
            spark, src, verify=verify, strict_escapes=strict_escapes
        )
        results.append(JobResult(database, "verify", "DONE", attempt, branch=branch))
        target = os.path.join(target_dir, database)
        prepare_target_dir(target, attempt)
        for t, df in tables.items():
            df.write.mode("errorifexists").parquet(os.path.join(target, t))
        results.append(JobResult(database, "load", "DONE", attempt, branch=branch))
    except Exception as exc:  # noqa: BLE001 - containment is the contract
        stage = "verify" if not any(r.analysis == "verify" for r in results) else "load"
        error = f"{type(exc).__name__}: {exc}"
        results.append(JobResult(database, stage, "FAILED", attempt, error, branch=branch))
    finally:
        sc.setLocalProperty("spark.scheduler.pool", None)
    return results


def mirror(
    spark: SparkSession,
    work_dir: str,
    target_dir: str,
    mode: str = "all",
    databases: list[str] | None = None,
    priority_species: tuple[str, ...] = (),
    priority_groups: tuple[str, ...] = (),
    max_concurrent: int = 4,  # -hive_capacity, LoadDBs_conf.pm:154
    failed_tolerance: float = 0.5,  # -failed_job_tolerance (50%), LoadDBs_conf.pm:166
    max_retry: int = 1,  # -max_retry_count, LoadDBs_conf.pm:189
    verify: bool = True,
    strict_escapes: bool = False,  # full LOAD DATA escape fidelity (slow path)
    seed: int = 42,
) -> MirrorReport:
    """Mirror every selected dump database into a parquet target.

    The discover/filter/coverage/priority stages run as DataFrame ops on
    a local relation (no Spark job); the per-database load fan-out (X1)
    runs ``max_concurrent`` databases at a time in randomized order
    (LoadDBs_conf.pm:115), each thread tagged with its priority class's
    FAIR pool. The order is ``random.Random(seed).shuffle`` of the rows
    in discovery (sorted) order: fixed per ``seed`` and covering each
    accepted database once, but not the permutation the former
    ``orderBy(rand(seed))`` gave that seed."""
    validate_mode(mode, databases)
    found = local_frame(
        spark, [(d,) for d in discover_local_databases(work_dir)], "database string"
    )
    accepted = mode_filter(found, mode, databases)
    assert_coverage(accepted, databases or [])
    routed = accepted.select(
        "database", priority_score("database", priority_species, priority_groups)
    ).select("database", "priority", priority_branch("priority"))
    # X1 fan-out: randomized order for load balancing, seeded for tests
    rows = routed.collect()
    random.Random(seed).shuffle(rows)

    report = MirrorReport()
    os.makedirs(target_dir, exist_ok=True)

    def run_db(row) -> list[JobResult]:
        out: list[JobResult] = []
        for attempt in range(max_retry + 1):
            out = _load_one(
                spark,
                work_dir,
                target_dir,
                row.database,
                row.branch,
                attempt,
                verify,
                strict_escapes=strict_escapes,
            )
            if not any(r.status == "FAILED" for r in out):
                break
        return out

    with ThreadPoolExecutor(max_workers=max_concurrent) as pool:
        for res in pool.map(run_db, rows):
            report.results.extend(res)

    failed = report.failed_databases
    if rows and len(failed) / len(rows) > failed_tolerance:
        raise RuntimeError(
            f"failure tolerance exceeded: {len(failed)}/{len(rows)} databases failed "
            f"({failed})"
        )
    return report
