"""Tests of the benchmark itself: seeded inputs, the percentile rule,
span self-time arithmetic and the launcher's refusal outside a checkout.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
from stats import summarize, tail_percentile  # noqa: E402
from trace import Span, job_span, self_times, spark_work  # noqa: E402


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    if mismatch or errors:
        return False
    return all(_same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


@pytest.mark.parametrize("workload", ["mirror_many_small", "training_corpus", "mirror_tail"])
def test_same_seed_same_bytes(tmp_path, workload):
    a = gen.ensure_inputs(str(tmp_path / "a"), workload, 7)
    b = gen.ensure_inputs(str(tmp_path / "b"), workload, 7)
    c = gen.ensure_inputs(str(tmp_path / "c"), workload, 8)
    assert _same_tree(a, b)
    assert not _same_tree(a, c)


def test_bsd_sum_matches_product():
    from ensembl_database_loader_spark.functions.checksums import bsd_sum16

    data = bytes(range(256)) * 37 + b"tail"
    assert gen.bsd_sum16(data) == bsd_sum16(data)


def test_priority_names_cover_every_branch():
    names = gen._db_names(gen.RELEASE_DBS)
    assert sorted(gen.branch_of(n) for n in names) == [2, 3, 4, 5]


@pytest.fixture(scope="module")
def spark():
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    from ensembl_database_loader_spark.session import get_spark

    return get_spark(app_name="perfbench-tests", master="local[2]",
                     extra_conf={"spark.ui.enabled": "false",
                                 "spark.sql.shuffle.partitions": "4",
                                 "spark.driver.memory": "1g"})


def test_generated_checksums_pass_verify(spark, tmp_path):
    from ensembl_database_loader_spark.sources.mysql_dump import (
        scan_dump_dir,
        verify_checksums,
    )

    root = gen.ensure_inputs(str(tmp_path), "mirror_many_small", 3)
    names = gen._db_names(2)  # the second ships CHECKSUMS.gz
    for name in names:
        dump = scan_dump_dir(os.path.join(root, "in", name))
        assert dump.checksum_file.endswith("CHECKSUMS.gz") == (name == names[1])
        assert verify_checksums(spark, dump, raise_on_failure=False).count() == 0
        with open(os.path.join(dump.path, "meta.txt"), "wb") as f:
            f.write(b"not in the manifest\n")  # extra files are ignored
    # a corrupted part must fail: the check is not vacuous
    dump = scan_dump_dir(os.path.join(root, "in", names[0]))
    part = os.path.join(dump.path, "gene.txt.gz")
    with open(part, "r+b") as f:
        f.seek(20)
        byte = f.read(1)
        f.seek(20)
        f.write(bytes([byte[0] ^ 0xFF]))
    assert verify_checksums(spark, dump, raise_on_failure=False).count() == 1


def test_tail_percentile_needs_ten_beyond():
    assert tail_percentile(list(range(19))) is None
    assert tail_percentile(list(range(20)))[0] == 50.0
    assert tail_percentile(list(range(1, 101))) == (90.0, 90)
    assert tail_percentile(list(range(1000)))[0] == 99.0
    assert tail_percentile(list(range(10_000)))[0] == 99.9
    s = summarize([3.0, 1.0, 2.0])
    assert s == {"median": 2.0, "n": 3}


def test_self_time_subtracts_union_of_children():
    spans = [
        Span(0, "root", None, "main", 0.0, None, 10.0),
        Span(1, "a", None, "t1", 1.0, 0, 4.0),
        Span(2, "b", None, "t2", 3.0, 0, 6.0),  # overlaps a
        Span(3, "a.child", None, "t1", 2.0, 1, 3.0),
        Span(4, "late", None, "t3", 9.0, 0, 12.0),  # runs past its parent
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(1.0)
    assert st[4] == pytest.approx(3.0)


def test_spark_work_counts_shared_stage_once():
    jobs = [
        {"jobId": 1, "description": "pb:4", "stageIds": [10, 11]},
        {"jobId": 2, "description": "pb:4", "stageIds": [11, 12]},
        {"jobId": 3, "stageIds": [13]},
    ]
    stages = {10: {"executorRunTime": 1000, "numCompleteTasks": 2},
              11: {"executorRunTime": 500, "numCompleteTasks": 1,
                   "memoryBytesSpilled": 3, "diskBytesSpilled": 4},
              13: {"executorRunTime": 250, "numCompleteTasks": 1}}
    work = spark_work(jobs, stages, lambda j: str(job_span(j)))
    assert work["4"]["jobs"] == 2 and work["4"]["stages"] == 2
    assert work["4"]["task_s"] == pytest.approx(1.5)
    assert work["4"]["tasks"] == 3 and work["4"]["spill_bytes"] == 7
    assert work["None"]["task_s"] == pytest.approx(0.25)


def test_launcher_refuses_a_tree_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", ".pytest_cache"))
    bench = json.load(open(tmp_path / "BENCHMARK.json"))
    proc = subprocess.run(
        bench["command"] + ["--workload", bench["workloads"][0]["name"], "--seed", "1",
                            "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""
