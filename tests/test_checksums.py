"""BSD sum16 unit + property tests — the algorithm is easy to get subtly
wrong (SURVEY.md §7 'hard parts'), so we check it against the system
``sum`` tool and against hand-derived cases. The Python file fold here
is the oracle for the native ``sum -r`` that verification runs."""

from __future__ import annotations

import shutil
import subprocess

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from ensembl_database_loader_spark.functions.checksums import (
    BLOCK_SIZE,
    bsd_sum16,
    bsd_sum16_blocks,
)


def test_empty():
    assert bsd_sum16(b"") == 0
    assert bsd_sum16_blocks(b"") == (0, 0)


def test_single_byte():
    assert bsd_sum16(b"\x01") == 1
    assert bsd_sum16(b"\xff") == 255


def test_rotation():
    # two bytes: c=1 -> rotate: 0x8000, +2 => 0x8002
    assert bsd_sum16(bytes([1, 2])) == 0x8002


def test_blocks():
    assert bsd_sum16_blocks(b"x" * 1024)[1] == 1
    assert bsd_sum16_blocks(b"x" * 1025)[1] == 2


#: Chunk of the oracle's file fold: the resumable fold must carry its
#: state across chunk boundaries.
_CHUNK = 1 << 20


def bsd_sum16_file(path) -> tuple[int, int]:
    """Oracle: (checksum, 1KiB-blocks) of a file, folded in Python in
    1 MiB chunks. Verification itself runs coreutils ``sum -r``."""
    c, size = 0, 0
    with open(path, "rb") as f:
        while chunk := f.read(_CHUNK):
            size += len(chunk)
            c = bsd_sum16(chunk, c)
    return c, (size + BLOCK_SIZE - 1) // BLOCK_SIZE


def test_chunked_file_stream_matches_whole(tmp_path):
    """The oracle streams in 1 MiB chunks; the resumable fold must equal
    the single-pass result across a chunk boundary, and native ``sum -r``
    must give the same string."""
    from ensembl_database_loader_spark.sources.mysql_dump import _sum_r

    data = bytes(range(256)) * ((_CHUNK + 4096) // 256)  # > one chunk
    p = tmp_path / "blob.bin"
    p.write_bytes(data)
    assert bsd_sum16_file(p) == bsd_sum16_blocks(data)
    assert _sum_r(str(tmp_path), ["blob.bin"]) == {
        "blob.bin": "%05d %d" % bsd_sum16_blocks(data)
    }


def test_check_string_format(tmp_path):
    """The reference-format combined string: '%05d sum' + ' ' + blocks
    (DownloadDatabase.pm:247-250), from the oracle and from ``sum -r``."""
    from ensembl_database_loader_spark.sources.mysql_dump import _sum_r

    p = tmp_path / "f.bin"
    p.write_bytes(b"\x01\x02")
    s, blocks = bsd_sum16_file(p)
    assert (s, blocks) == (0x8002, 1)
    assert f"{s:05d} {blocks}" == "32770 1"
    assert _sum_r(str(tmp_path), ["f.bin"]) == {"f.bin": "32770 1"}


ORACLE_FILES = {
    "empty.txt.gz": b"",
    "one.txt.gz": b"\x01",
    "k1024.txt.gz": bytes(range(256)) * 4,
    "k1025.txt.gz": bytes(range(256)) * 4 + b"\xff",
    "big.0001.txt.gz": bytes(range(256)) * ((_CHUNK + 4096) // 256),  # > one chunk
    "with space.txt.gz": b"\x01\x02",  # PART_RE allows a space
}


@pytest.mark.parametrize("names", [sorted(ORACLE_FILES), ["with space.txt.gz"]],
                         ids=["all", "one_file"])
def test_native_sum_matches_python_oracle(spark, tmp_path, names):
    """``verify_checksums``' coreutils ``sum -r`` and the Python oracle
    give the identical reference string ``'%05d sum' + ' ' + blocks``
    (DownloadDatabase.pm:247-250) for 0-, 1-, 1024-, 1025- and >1 MiB
    files and a name with a space. The one-file manifest covers GNU
    ``sum`` printing no file name for a lone operand."""
    from ensembl_database_loader_spark.sources.mysql_dump import (
        DumpDirectory,
        _sum_r,
        verify_checksums,
    )

    folds = {}
    for name in names:
        (tmp_path / name).write_bytes(ORACLE_FILES[name])
        folds[name] = bsd_sum16_file(tmp_path / name)
        assert folds[name] == bsd_sum16_blocks(ORACLE_FILES[name])  # across chunks
    oracle = {n: "%05d %d" % folds[n] for n in names}
    assert oracle["with space.txt.gz"] == "32770 1"
    assert _sum_r(str(tmp_path), names) == oracle
    (tmp_path / "CHECKSUMS").write_text(
        "".join(f"{s:05d} {b:5d} {n}\n" for n, (s, b) in folds.items())
    )
    dump = DumpDirectory("oracle", str(tmp_path), schema=None,
                         checksum_file=str(tmp_path / "CHECKSUMS"))
    assert verify_checksums(spark, dump, raise_on_failure=False).collect() == []


HAVE_SUM = shutil.which("sum") is not None


@pytest.mark.skipif(not HAVE_SUM, reason="system `sum` unavailable")
@settings(max_examples=25, deadline=None)
@given(st.binary(min_size=0, max_size=4096))
def test_matches_system_sum(data: bytes):
    import tempfile, os

    with tempfile.NamedTemporaryFile(delete=False) as f:
        f.write(data)
        path = f.name
    try:
        out = subprocess.run(["sum", path], capture_output=True, text=True, check=True)
        expected = int(out.stdout.split()[0])
        assert bsd_sum16(data) == expected
    finally:
        os.unlink(path)
