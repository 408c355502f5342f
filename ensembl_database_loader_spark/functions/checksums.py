"""BSD ``sum`` checksum (16-bit right-rotating) — the integrity primitive
of the reference's download verification.

The reference shells out to Unix ``sum`` per downloaded file and
compares against the CHECKSUMS manifest (`sum` invocation:
DownloadDatabase.pm:238-251; manifest parse/compare:
DownloadDatabase.pm:148-216). We reimplement the algorithm (public BSD
sum semantics: rotate right one bit, add byte, mask to 16 bits) as a
pure-Python function + a Spark UDF.

At scale the UDF runs Arrow-batched (Spark 4 arrows Python UDFs by
default); checksum verification itself is a broadcast-able full-outer
join of two small manifests (one row per file), so the distributed cost
is reading the file bytes, not the join.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType

#: BSD ``sum`` block unit: 1 KiB, rounded up (the second field of the
#: `sum` output the reference parses, DownloadDatabase.pm:238-251).
BLOCK_SIZE = 1024

#: Streaming chunk for file checksums — bounds executor memory at 1 MiB
#: per in-flight file regardless of file size (dump parts are multi-GB).
_CHUNK = 1 << 20


def bsd_sum16(data: bytes, state: int = 0) -> int:
    """16-bit BSD checksum: for each byte, rotate the accumulator right
    one bit then add the byte, modulo 2**16. ``state`` resumes a
    previous fold, enabling chunked streaming over large files.

    The recurrence (1-bit rotate with add-carry per byte) is inherently
    sequential — rotation does not distribute over addition, so there is
    no per-chunk combine and no SIMD fold; parallelism at cluster scale
    is per-FILE (one task per file in the verification manifest),
    matching the reference's per-file ``sum`` invocation."""
    c = state
    for b in data:
        c = ((c >> 1) + ((c & 1) << 15) + b) & 0xFFFF
    return c


def bsd_sum16_blocks(data: bytes, block_size: int = BLOCK_SIZE) -> tuple[int, int]:
    """(checksum, block count) — the two fields of a CHECKSUMS line
    (`<sum16> <blocks> <filename>`, parse regex at
    DownloadDatabase.pm:204-211)."""
    return bsd_sum16(data), (len(data) + block_size - 1) // block_size


def bsd_sum16_file(path: str) -> tuple[int, int]:
    """(checksum, 1KiB-blocks) of a file, streamed in 1 MiB chunks so
    multi-GB dump parts never land in executor memory whole."""
    c, size = 0, 0
    with open(path, "rb") as f:
        while chunk := f.read(_CHUNK):
            size += len(chunk)
            c = bsd_sum16(chunk, c)
    return c, (size + BLOCK_SIZE - 1) // BLOCK_SIZE


@F.udf(returnType=IntegerType(), useArrow=True)
def bsd_sum16_udf(s: str) -> int | None:
    """BSD sum16 over a string's UTF-8 bytes (Arrow-batched Python UDF)."""
    if s is None:
        return None
    return bsd_sum16(s.encode("utf-8"))


@F.udf(returnType=StringType(), useArrow=True)
def bsd_sum16_file_check_udf(path: str) -> str | None:
    """The reference's combined check string ``'%05d sum' . ' ' . blocks``
    (DownloadDatabase.pm:247-250) for a local file — comparing this pair
    catches truncated/resized files whose 16-bit sum coincidentally
    matches (the sum alone is a 1-in-65536 collision)."""
    if path is None:
        return None
    s, blocks = bsd_sum16_file(path)
    return f"{s:05d} {blocks}"
