"""Mirror-dump source tests (SURVEY.md §5.2 loader round-trip +
FIXTURES.md §2 negative cases).

The fixture builder synthesizes the reference's on-disk dump format:
``<db>.sql.gz`` DDL, ``<table>[.NNNN].txt.gz`` TSV parts, and a
CHECKSUMS manifest with real BSD sum16 values — then asserts our
Spark-native ingest round-trips rows against the parquet source of
truth.
"""

from __future__ import annotations

import gzip
import os

import pytest
from pyspark.sql import functions as F

from ensembl_database_loader_spark.functions.checksums import bsd_sum16_blocks
from ensembl_database_loader_spark.sources import (
    ChecksumError,
    group_part_files,
    parse_mysql_ddl,
    read_mysql_dump,
    scan_dump_dir,
    verify_checksums,
)
from ensembl_database_loader_spark.sources.mysql_dump import read_dump_table

DDL = """
-- MySQL dump fixture
/*!40101 SET NAMES utf8 */;
DROP TABLE IF EXISTS `region`;
CREATE TABLE `region` (
  `r_regionkey` int(11) NOT NULL,
  `r_name` varchar(25) DEFAULT NULL,
  PRIMARY KEY (`r_regionkey`),
  KEY `idx_name` (`r_name`)
) ENGINE=MyISAM DEFAULT CHARSET=latin1;

CREATE TABLE `orders` (
  `o_orderkey` bigint(20) unsigned NOT NULL,
  `o_totalprice` decimal(12,2) DEFAULT NULL,
  `o_orderdate` date DEFAULT NULL,
  `o_orderpriority` enum('1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW') DEFAULT NULL,
  `o_placed_at` datetime DEFAULT NULL
) ENGINE=MyISAM;

CREATE ALGORITHM=UNDEFINED DEFINER=`adm`@`%` SQL SECURITY DEFINER VIEW `v_orders_open`
  AS select `o_orderkey` from `orders`;
"""

ROWS_REGION = [
    (0, "AFRICA"),
    (1, "AMERICA"),
    (2, None),  # \N null
]
ROWS_ORDERS_P1 = [
    ("1", "173665.47", "1996-01-02", "1-URGENT", "1996-01-02 10:00:00"),
    ("2", "46929.18", "0000-00-00", "2-HIGH", "0000-00-00 00:00:00"),  # zero dates
]
ROWS_ORDERS_P2 = [
    ("3", "\\N", "1993-10-14", "5-LOW", "1993-10-14 23:59:59"),
]


def _tsv(rows) -> bytes:
    def enc(v):
        return "\\N" if v is None else str(v)

    return ("".join("\t".join(enc(v) for v in r) + "\n" for r in rows)).encode()


def build_dump(
    root: str, name: str, gz_checksums: bool = False, extra_order_parts: int = 0
) -> str:
    """One dump db dir: DDL + region.txt.gz + split orders parts + CHECKSUMS.
    ``extra_order_parts`` appends that many one-row orders parts."""
    d = os.path.join(root, name)
    os.makedirs(d)
    files = {
        f"{name}.sql.gz": gzip.compress(DDL.encode()),
        "region.txt.gz": gzip.compress(_tsv(ROWS_REGION)),
        "orders.0001.txt.gz": gzip.compress(_tsv(ROWS_ORDERS_P1)),
        "orders.0002.txt.gz": gzip.compress(_tsv(ROWS_ORDERS_P2)),
    }
    for key in range(4, 4 + extra_order_parts):
        row = (str(key), "1.00", "1996-01-02", "5-LOW", "1996-01-02 00:00:00")
        files[f"orders.{key - 1:04d}.txt.gz"] = gzip.compress(_tsv([row]))
    manifest_lines = []
    for fn, data in files.items():
        with open(os.path.join(d, fn), "wb") as f:
            f.write(data)
        s, blocks = bsd_sum16_blocks(data)
        manifest_lines.append(f"{s:05d} {blocks:5d} {fn}\n")
    manifest = "".join(manifest_lines).encode()
    if gz_checksums:
        with open(os.path.join(d, "CHECKSUMS.gz"), "wb") as f:
            f.write(gzip.compress(manifest))
    else:
        with open(os.path.join(d, "CHECKSUMS"), "wb") as f:
            f.write(manifest)
    return d


# --- DDL parsing -----------------------------------------------------------


def test_ddl_parse_types_and_views():
    sch = parse_mysql_ddl(DDL)
    assert set(sch.tables) == {"region", "orders"}
    assert sch.views == ["v_orders_open"]
    region = {f.name: f.dataType.simpleString() for f in sch.tables["region"].fields}
    assert region == {"r_regionkey": "int", "r_name": "string"}
    orders = {f.name: f.dataType.simpleString() for f in sch.tables["orders"].fields}
    assert orders == {
        "o_orderkey": "bigint",  # unsigned int widens
        "o_totalprice": "decimal(12,2)",
        "o_orderdate": "date",
        "o_orderpriority": "string",  # ENUM -> string
        "o_placed_at": "timestamp",
    }


def test_part_grouping_matches_reference_regex():
    # grouping + lexicographic part sort (LoadFiles.pm:187-216)
    groups = group_part_files(
        ["orders.0002.txt.gz", "orders.0001.txt.gz", "region.txt.gz", "x.sql.gz"]
    )
    assert groups == {
        "orders": ["orders.0001.txt.gz", "orders.0002.txt.gz"],
        "region": ["region.txt.gz"],
    }


# --- round trip ------------------------------------------------------------


def test_dump_round_trip(spark, tmp_path):
    d = build_dump(str(tmp_path), "tpch_core_1_1")
    tables = read_mysql_dump(spark, d, verify=True)
    assert set(tables) == {"region", "orders"}  # view skipped
    region = {r.r_regionkey: r.r_name for r in tables["region"].collect()}
    assert region == {0: "AFRICA", 1: "AMERICA", 2: None}
    orders = tables["orders"].orderBy("o_orderkey").collect()
    assert [r.o_orderkey for r in orders] == [1, 2, 3]  # parts merged
    assert str(orders[0].o_totalprice) == "173665.47"
    assert orders[1].o_orderdate is None  # zero date -> null
    assert orders[1].o_placed_at is None
    assert orders[2].o_totalprice is None  # \N in numeric col
    assert orders[0].o_orderpriority == "1-URGENT"


def test_checksums_gz_variant(spark, tmp_path):
    d = build_dump(str(tmp_path), "tpch_core_2_2", gz_checksums=True)
    dump = scan_dump_dir(d)
    assert dump.checksum_file.endswith("CHECKSUMS.gz")
    assert verify_checksums(spark, dump).count() == 0


def test_corrupt_checksum_fails_with_file_list(spark, tmp_path):
    d = build_dump(str(tmp_path), "tpch_core_3_3")
    with open(os.path.join(d, "region.txt.gz"), "ab") as f:
        f.write(b"corruption")
    with pytest.raises(ChecksumError) as ei:
        read_mysql_dump(spark, d)
    assert any(f == "region.txt.gz" for f, _, _ in ei.value.failures)


def test_missing_file_reported_as_dash(spark, tmp_path):
    d = build_dump(str(tmp_path), "tpch_core_4_4")
    os.remove(os.path.join(d, "region.txt.gz"))
    with pytest.raises(ChecksumError) as ei:
        read_mysql_dump(spark, d)
    assert ("region.txt.gz" in {f for f, _, _ in ei.value.failures})
    assert any(a == "-" for _, _, a in ei.value.failures)  # DownloadDatabase.pm:157


# --- strict escape dialect -------------------------------------------------


def test_strict_escape_round_trip(spark, tmp_path):
    """FIXTURES.md negative case 6: tab, backslash, newline, literal \\N."""
    name = "esc_db_1_1"
    d = os.path.join(str(tmp_path), name)
    os.makedirs(d)
    ddl = "CREATE TABLE `t` (`id` int(11), `v` text) ENGINE=MyISAM;"
    with open(os.path.join(d, f"{name}.sql.gz"), "wb") as f:
        f.write(gzip.compress(ddl.encode()))
    # MySQL INTO OUTFILE encoding: backslash before tab/newline/backslash
    body = (
        "1\tplain\n"
        "2\thas\\\ttab\n"  # escaped tab inside value
        "3\thas\\\\slash\n"  # escaped backslash
        "4\tline\\\nbreak\n"  # escaped newline spans physical lines
        "5\t\\N\n"  # NULL
        "6\t\\Nliteral\n"  # NOT null: \N only when whole field
    )
    with open(os.path.join(d, "t.txt.gz"), "wb") as f:
        f.write(gzip.compress(body.encode()))
    dump = scan_dump_dir(d)
    got = {
        r.id: r.v
        for r in read_dump_table(spark, dump, "t", strict_escapes=True).collect()
    }
    assert got == {
        1: "plain",
        2: "has\ttab",
        3: "has\\slash",
        4: "line\nbreak",
        5: None,
        6: "Nliteral",  # \N maps N -> N (letter map miss -> literal)
    }


def test_strict_escapes_across_arrow_batch_boundary(spark, tmp_path):
    """A record whose escaped newline lands exactly at the Arrow batch
    boundary (default maxRecordsPerBatch = 10000 lines) must be carried
    raw into the next batch and decode identically to its neighbors —
    the cross-batch seam of the mapInArrow decoder, exercised through a
    REAL Spark read, not the unit-level driver."""
    name = "batchseam_db_1_1"
    d = os.path.join(str(tmp_path), name)
    os.makedirs(d)
    ddl = "CREATE TABLE `t` (`id` int(11), `v` text) ENGINE=MyISAM;"
    with open(os.path.join(d, f"{name}.sql.gz"), "wb") as f:
        f.write(gzip.compress(ddl.encode()))
    # Physical line 10000 (0-indexed 9999) ends with the escaped-newline
    # backslash; its continuation is physical line 10001 — the first
    # line of the NEXT Arrow batch.
    lines = [f"{i}\trow {i}" for i in range(9999)]
    lines.append("9999\tsplit\\")  # escaped newline -> joins next line
    lines.append("part two")
    lines += [f"{i}\trow {i}" for i in range(10000, 12000)]
    with open(os.path.join(d, "t.txt.gz"), "wb") as f:
        f.write(gzip.compress(("\n".join(lines) + "\n").encode()))
    dump = scan_dump_dir(d)
    df = read_dump_table(spark, dump, "t", strict_escapes=True)
    assert df.count() == 12000  # 12001 physical lines, one joined pair
    row = df.filter(df.id == 9999).collect()
    assert [r.v for r in row] == ["split\npart two"]
    assert df.filter(df.v.isNull()).count() == 0


def test_truncation_with_colliding_sum16_fails(spark, tmp_path):
    """A resized file whose 16-bit sum collides with the manifest entry
    must still fail: the compare is the reference's combined
    '%05d sum + blocks' pair (DownloadDatabase.pm:208-210, 247-250).
    2048 zero bytes fold to sum16=0, the same as the empty file."""
    name = "trunc_db_1_1"
    d = os.path.join(str(tmp_path), name)
    os.makedirs(d)
    with open(os.path.join(d, f"{name}.sql.gz"), "wb") as f:
        f.write(gzip.compress(b"CREATE TABLE `t` (`id` int(11));"))
    with open(os.path.join(d, "t.txt.gz"), "wb") as f:
        f.write(b"\0" * 2048)  # sum16 == 0 == sum16(b'')
    sql_data = gzip.compress(b"CREATE TABLE `t` (`id` int(11));")
    s, blocks = bsd_sum16_blocks(sql_data)
    with open(os.path.join(d, "CHECKSUMS"), "w") as f:
        f.write(f"{s:05d} {blocks:5d} {name}.sql.gz\n")
        f.write(f"00000     0 t.txt.gz\n")  # manifest says: empty file
    with pytest.raises(ChecksumError) as ei:
        verify_checksums(spark, scan_dump_dir(d))
    assert any(f == "t.txt.gz" for f, _, _ in ei.value.failures)


def test_conditional_comment_views_detected():
    """Real mysqldump wraps view DDL in /*!50001 ... */ conditional
    comments (temporary stand-in + final structure); both must be
    unwrapped, the view recorded once, and the stand-in CREATE TABLE
    must not leak into data loading."""
    ddl = """
/*!40101 SET NAMES utf8 */;
CREATE TABLE `base` (
  `id` int(11) NOT NULL
) ENGINE=MyISAM;

-- Temporary table structure for view `v_cond`
DROP TABLE IF EXISTS `v_cond`;
/*!50001 DROP VIEW IF EXISTS `v_cond`*/;
/*!50001 CREATE VIEW `v_cond` AS SELECT
 1 AS `id`*/;

-- Final view structure for view `v_cond`
/*!50001 DROP VIEW IF EXISTS `v_cond`*/;
/*!50001 CREATE ALGORITHM=UNDEFINED */
/*!50013 DEFINER=`adm`@`%` SQL SECURITY DEFINER */
/*!50001 VIEW `v_cond` AS select `id` from `base` */;
"""
    sch = parse_mysql_ddl(ddl)
    assert sch.views == ["v_cond"]
    assert "base" in sch.tables
    # a /*!50001 CREATE TABLE stand-in (older mysqldump) is also seen,
    # but view status wins at load time (read_mysql_dump skips views)


def test_eof_dangling_escape_with_escaped_tabs():
    """A final record with an escaped tab AND a trailing backslash must
    use the same escape-aware field split as the main path."""
    from ensembl_database_loader_spark.sources.mysql_dump import _decode_mysql_lines

    rows = list(_decode_mysql_lines(iter(["7\ta\\\tb\\"]), 2))
    assert rows == [("7", "a\tb\\")]


def test_fast_path_matches_spark_writer_dialect(spark, tmp_path):
    """The csv fast path round-trips what Spark's writer emits with the
    same dialect options (the q02 contract), and reads a dump exactly as
    the strict decoder does."""
    from ensembl_database_loader_spark.catalog import table as cat_table

    src = cat_table(spark, "/root/testdata/sf0.001", "region")
    out = str(tmp_path / "region_tsv")
    opts = {"sep": "\t", "escape": "\\", "nullValue": "\\N", "emptyValue": ""}
    src.coalesce(1).write.options(**opts).csv(out)
    back = spark.read.options(**opts).schema("r_regionkey INT, r_name STRING").csv(out)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, src.collect()))
    # On the dump fixture the fast path and the strict decoder agree on
    # schema and rows: split parts, typed zero-date nulls, decimals.
    dump = scan_dump_dir(build_dump(str(tmp_path), "dialect_db"))
    for t in ("region", "orders"):
        fast = read_dump_table(spark, dump, t)
        strict = read_dump_table(spark, dump, t, strict_escapes=True)
        assert fast.schema == strict.schema
        assert sorted(map(tuple, fast.collect())) == sorted(map(tuple, strict.collect()))
    with pytest.raises(KeyError, match="not in DDL"):
        read_dump_table(spark, dump, "nope")

