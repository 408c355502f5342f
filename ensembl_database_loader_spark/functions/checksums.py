"""BSD ``sum`` checksum (16-bit right-rotating) over in-memory bytes.

The reference shells out to Unix ``sum`` per downloaded file and
compares against the CHECKSUMS manifest (`sum` invocation:
DownloadDatabase.pm:238-251; manifest parse/compare:
DownloadDatabase.pm:148-216). File verification does the same: it runs
coreutils ``sum -r`` (``sources.mysql_dump.verify_checksums``). This
module keeps the algorithm (public BSD sum semantics: rotate right one
bit, add byte, mask to 16 bits) for values that are not files: a
pure-Python function and a Spark UDF over strings.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType

#: BSD ``sum`` block unit: 1 KiB, rounded up (the second field of the
#: `sum` output the reference parses, DownloadDatabase.pm:238-251).
BLOCK_SIZE = 1024


def bsd_sum16(data: bytes, state: int = 0) -> int:
    """16-bit BSD checksum: for each byte, rotate the accumulator right
    one bit then add the byte, modulo 2**16. ``state`` resumes a
    previous fold, enabling chunked streaming over large inputs.

    The recurrence (1-bit rotate with add-carry per byte) is inherently
    sequential — rotation does not distribute over addition, so there is
    no per-chunk combine and no SIMD fold."""
    c = state
    for b in data:
        c = ((c >> 1) + ((c & 1) << 15) + b) & 0xFFFF
    return c


def bsd_sum16_blocks(data: bytes, block_size: int = BLOCK_SIZE) -> tuple[int, int]:
    """(checksum, block count) — the two fields of a CHECKSUMS line
    (`<sum16> <blocks> <filename>`, parse regex at
    DownloadDatabase.pm:204-211)."""
    return bsd_sum16(data), (len(data) + block_size - 1) // block_size


@F.udf(returnType=IntegerType(), useArrow=True)
def bsd_sum16_udf(s: str) -> int | None:
    """BSD sum16 over a string's UTF-8 bytes (Arrow-batched Python UDF)."""
    if s is None:
        return None
    return bsd_sum16(s.encode("utf-8"))
