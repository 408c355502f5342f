"""Seeded input generator for the benchmark workloads.

Every workload's inputs are a pure function of (workload, seed): the
same seed writes the same bytes (gzip headers carry mtime 0, parquet is
written without timestamps). Alongside the inputs the generator writes
``expected.json``, the facts the output checks compare against: per
table row counts and order-independent column digests, landed rows for
the streaming tail, and the corpus' known duplicate counts.

The program under test receives only the generated files.
"""

from __future__ import annotations

import gzip
import json
import os
import shutil

import numpy as np

#: Digest of one column: [non-null count, sum]. ``sum`` is the integer
#: sum for integer columns, cents for DECIMAL(12,2), epoch seconds for
#: DATETIME, days for DATE and UTF-8 length for strings. It does not
#: depend on row order, so it can be recomputed from the parquet mirror.
Digest = list

# -- BSD sum -----------------------------------------------------------------


def bsd_sum16(data: bytes) -> int:
    """16-bit BSD ``sum``: rotate the accumulator right one bit, add the
    byte, mask to 16 bits. Written independently of the product's copy,
    so a generated CHECKSUMS file is an outside check on it."""
    c = 0
    for b in data:
        c = ((c >> 1) | ((c & 1) << 15)) + b & 0xFFFF
    return c


def checksum_line(name: str, data: bytes) -> str:
    blocks = (len(data) + 1023) // 1024
    return f"{bsd_sum16(data):05d} {blocks:5d} {name}\n"


# -- columns -----------------------------------------------------------------

_BIOTYPES = np.array(
    ["protein_coding", "lncRNA", "miRNA", "snRNA", "pseudogene", "misc_RNA"]
)
_INFO_TYPES = np.array(["NONE", "PROJECTION", "DIRECT", "DEPENDENT", "SEQUENCE_MATCH"])
_WORDS = np.array(
    "kinase binding domain protein receptor factor family member subunit "
    "transporter channel regulator zinc finger homeobox ribosomal "
    "mitochondrial nuclear putative uncharacterized".split()
)
_EPOCH0 = 1_262_304_000  # 2010-01-01 UTC
_DAY0 = 14_610  # 2010-01-01 in days


class _Col:
    """One generated column: its MySQL type, Spark kind and values."""

    def __init__(self, name, mysql_type, kind, values, nulls=None):
        self.name, self.mysql_type, self.kind = name, mysql_type, kind
        self.values = values
        self.nulls = np.zeros(len(values), bool) if nulls is None else nulls

    def text(self) -> np.ndarray:
        """TSV cells: ``\\N`` for NULL, MySQL zero-date for null dates."""
        v = self.values
        if self.kind == "decimal":
            cents = v.astype(np.int64)
            s = np.char.add(
                np.char.add((cents // 100).astype(str), "."),
                np.char.zfill((cents % 100).astype(str), 2),
            )
        elif self.kind == "datetime":
            s = np.char.replace(
                np.datetime_as_string(v.astype("datetime64[s]"), unit="s"), "T", " "
            )
        elif self.kind == "date":
            s = np.datetime_as_string(v.astype("datetime64[D]"), unit="D")
        else:
            s = v.astype(str)
        s = s.astype(object)
        if self.nulls.any():
            zero = {"datetime": "0000-00-00 00:00:00", "date": "0000-00-00"}
            s[self.nulls] = zero.get(self.kind, "\\N")
        return s

    def digest(self) -> Digest:
        ok = ~self.nulls
        v = self.values[ok]
        if self.kind == "string":  # generated strings are ASCII
            total = int(np.char.str_len(v.astype(str)).sum())
        else:
            total = int(v.astype(np.int64).sum())
        return [int(ok.sum()), total]


def _ids(n, start=1):
    return np.arange(start, start + n, dtype=np.int64)


def _stable(prefix, ids):
    return np.char.add(prefix, np.char.zfill(ids.astype(str), 11))


def _words(rng, n, k):
    picks = _WORDS[rng.integers(0, len(_WORDS), size=(n, k))]
    out = picks[:, 0]
    for j in range(1, k):
        out = np.char.add(np.char.add(out, " "), picks[:, j])
    return out


def _location_cols(rng, n, n_regions):
    start = rng.integers(1, 200_000_000, n)
    return [
        _Col("seq_region_id", "int(10) unsigned", "long", rng.integers(1, n_regions + 1, n)),
        _Col("seq_region_start", "int(10) unsigned", "long", start),
        _Col("seq_region_end", "int(10) unsigned", "long", start + rng.integers(50, 90_000, n)),
        _Col("seq_region_strand", "tinyint(2)", "int", rng.choice([-1, 1], n)),
    ]


def _created(rng, n, null_frac=0.05):
    secs = _EPOCH0 + rng.integers(0, 400_000_000, n)
    return _Col("created_date", "datetime", "datetime", secs, rng.random(n) < null_frac)


def _table(name, rng, n, n_regions=200):
    """Columns of one Ensembl-style table with ``n`` rows."""
    ids = _ids(n)
    if name == "gene":
        return [
            _Col("gene_id", "int(10) unsigned", "long", ids),
            _Col("biotype", "varchar(40)", "string", _BIOTYPES[rng.integers(0, 6, n)]),
            _Col("analysis_id", "smallint(5) unsigned", "int", rng.integers(1, 40, n)),
            *_location_cols(rng, n, n_regions),
            _Col("stable_id", "varchar(128)", "string", _stable("ENSG", ids)),
            _Col("version", "smallint(5) unsigned", "int", rng.integers(1, 20, n)),
            _created(rng, n),
        ]
    if name == "transcript":
        return [
            _Col("transcript_id", "int(10) unsigned", "long", ids),
            _Col("gene_id", "int(10) unsigned", "long", rng.integers(1, n // 3 + 2, n)),
            *_location_cols(rng, n, n_regions),
            _Col("biotype", "varchar(40)", "string", _BIOTYPES[rng.integers(0, 6, n)]),
            _Col("stable_id", "varchar(128)", "string", _stable("ENST", ids)),
            _Col("version", "smallint(5) unsigned", "int", rng.integers(1, 20, n)),
            _created(rng, n),
        ]
    if name == "exon":
        return [
            _Col("exon_id", "int(10) unsigned", "long", ids),
            *_location_cols(rng, n, n_regions),
            _Col("phase", "tinyint(2)", "int", rng.integers(-1, 3, n)),
            _Col("end_phase", "tinyint(2)", "int", rng.integers(-1, 3, n)),
            _Col("is_current", "tinyint(1)", "int", rng.integers(0, 2, n)),
            _Col("stable_id", "varchar(128)", "string", _stable("ENSE", ids)),
            _Col("version", "smallint(5) unsigned", "int", rng.integers(1, 20, n)),
        ]
    if name == "xref":
        return [
            _Col("xref_id", "int(10) unsigned", "long", ids),
            _Col("external_db_id", "int(10) unsigned", "long", rng.integers(1, 3000, n)),
            _Col("dbprimary_acc", "varchar(512)", "string", _stable("XP_", rng.integers(1, 10**9, n))),
            _Col("display_label", "varchar(512)", "string", _words(rng, n, 2)),
            _Col("description", "text", "string", _words(rng, n, 5), rng.random(n) < 0.2),
            _Col(
                "info_type",
                "enum('NONE','PROJECTION','DIRECT','DEPENDENT','SEQUENCE_MATCH')",
                "string",
                _INFO_TYPES[rng.integers(0, 5, n)],
            ),
        ]
    if name == "density_feature":
        return [
            _Col("density_feature_id", "int(10) unsigned", "long", ids),
            _Col("density_type_id", "int(10) unsigned", "long", rng.integers(1, 12, n)),
            *_location_cols(rng, n, n_regions)[:3],
            _Col("density_value", "decimal(12,2)", "decimal", rng.integers(0, 10**8, n)),
        ]
    if name == "seq_region":
        return [
            _Col("seq_region_id", "int(10) unsigned", "long", ids),
            _Col("name", "varchar(255)", "string", np.char.add("chr", ids.astype(str))),
            _Col("coord_system_id", "int(10) unsigned", "long", rng.integers(1, 6, n)),
            _Col("length", "int(10) unsigned", "long", rng.integers(10**4, 2 * 10**8, n)),
        ]
    if name == "meta":
        return [
            _Col("meta_id", "int(11)", "int", ids),
            _Col("species_id", "int(10) unsigned", "long", np.ones(n, np.int64), rng.random(n) < 0.1),
            _Col("meta_key", "varchar(40)", "string", _words(rng, n, 1)),
            _Col("meta_value", "varchar(255)", "string", _words(rng, n, 3)),
        ]
    if name == "analysis":
        return [
            _Col("analysis_id", "smallint(5) unsigned", "int", ids),
            _Col("created", "datetime", "datetime", _EPOCH0 + rng.integers(0, 4 * 10**8, n), rng.random(n) < 0.2),
            _Col("logic_name", "varchar(128)", "string", _words(rng, n, 1)),
            _Col("db_version", "varchar(40)", "string", rng.integers(90, 115, n)),
        ]
    if name == "assembly_date":
        return [
            _Col("assembly_id", "int(10) unsigned", "long", ids),
            _Col("released", "date", "date", _DAY0 + rng.integers(0, 5000, n), rng.random(n) < 0.1),
            _Col("label", "varchar(64)", "string", _words(rng, n, 1)),
        ]
    raise KeyError(name)


#: Small tables in the order many-table databases use them.
SMALL_TABLES = ["meta", "analysis", "seq_region", "assembly_date", "gene", "transcript",
                "exon", "xref", "density_feature"]


def _ddl(tables: dict[str, list[_Col]], view_on: str) -> str:
    out = ["-- MySQL dump (generated)", "/*!40101 SET NAMES utf8 */;"]
    for name, cols in tables.items():
        body = ",\n".join(f"  `{c.name}` {c.mysql_type} DEFAULT NULL" for c in cols)
        first = cols[0].name
        out.append(
            f"DROP TABLE IF EXISTS `{name}`;\nCREATE TABLE `{name}` (\n{body},\n"
            f"  PRIMARY KEY (`{first}`)\n) ENGINE=MyISAM DEFAULT CHARSET=latin1;"
        )
    out.append(
        "CREATE ALGORITHM=UNDEFINED DEFINER=`ensro`@`%` SQL SECURITY DEFINER VIEW "
        f"`v_{view_on}` AS select `{tables[view_on][0].name}` from `{view_on}`;"
    )
    return "\n".join(out) + "\n"


def _tsv(cols: list[_Col], lo: int, hi: int) -> bytes:
    cells = [c.text()[lo:hi] for c in cols]
    lines = ["\t".join(row) for row in zip(*cells)]
    return ("\n".join(lines) + "\n").encode() if lines else b""


def _gz(data: bytes) -> bytes:
    return gzip.compress(data, compresslevel=6, mtime=0)


def write_database(root: str, name: str, tables: dict[str, tuple[int, int]], rng,
                   gz_manifest: bool = False) -> dict:
    """Write one dump database: DDL with a view, ``<table>[.NNNN].txt.gz``
    parts and a CHECKSUMS (or CHECKSUMS.gz) manifest with real BSD sums.

    ``tables`` maps table name to (rows, parts). Returns the database's
    expected facts: per table rows and column digests, and input bytes."""
    d = os.path.join(root, name)
    os.makedirs(d)
    cols = {t: _table(t, rng, n) for t, (n, _) in tables.items()}
    files = {f"{name}.sql.gz": _gz(_ddl(cols, next(iter(tables))).encode())}
    expected = {}
    for t, (n, parts) in tables.items():
        bounds = np.linspace(0, n, parts + 1).astype(int)
        for p in range(parts):
            fn = f"{t}.txt.gz" if parts == 1 else f"{t}.{p + 1:04d}.txt.gz"
            files[fn] = _gz(_tsv(cols[t], bounds[p], bounds[p + 1]))
        expected[t] = {"rows": n, "digest": {c.name: c.digest() for c in cols[t]}}
    manifest = "".join(checksum_line(fn, data) for fn, data in files.items()).encode()
    for fn, data in files.items():
        with open(os.path.join(d, fn), "wb") as f:
            f.write(data)
    if gz_manifest:
        with open(os.path.join(d, "CHECKSUMS.gz"), "wb") as f:
            f.write(_gz(manifest))
    else:
        with open(os.path.join(d, "CHECKSUMS"), "wb") as f:
            f.write(manifest)
    return {"tables": expected, "input_bytes": sum(len(b) for b in files.values())}


#: Database name stems, in order. Under PRIORITY_SPECIES / PRIORITY_GROUPS
#: the first four land on priority branches 5, 4, 3 and 2.
DB_STEMS = ["homo_sapiens_variation", "mus_musculus_variation", "homo_sapiens_core",
            "danio_rerio_core", "gallus_gallus_variation", "rattus_norvegicus_funcgen",
            "mus_musculus_core", "sus_scrofa_otherfeatures"]
PRIORITY_SPECIES = ("homo_sapiens", "mus_musculus")
PRIORITY_GROUPS = ("variation",)


def _db_names(n: int) -> list[str]:
    return [f"{DB_STEMS[i % len(DB_STEMS)]}_110_{i + 1}" for i in range(n)]


def branch_of(db: str) -> int:
    """The product's routing rule restated (Prioritise.pm): used only to
    pick which databases count toward ``priority_ready_s``."""
    score = int(db.startswith(PRIORITY_SPECIES))
    score += int(any(f"_{g}_" in db for g in PRIORITY_GROUPS))
    score += int(db.startswith("homo_sapiens") and "_variation_" in db)
    return {0: 2, 1: 3, 2: 4, 3: 5}[score]


# -- workloads ---------------------------------------------------------------

#: Sizes, tuned so one pipeline call takes a few seconds on 4 cores.
RELEASE_DBS = 4
RELEASE_BIG = {"exon": (10_000, 4), "xref": (8_000, 3)}
RELEASE_SMALL = {"gene": 3_000, "meta": 60, "seq_region": 200}
MANY_DBS = 6
MANY_TABLES = 8
MANY_ROWS = 60
TAIL_PARTS = 6
TAIL_ROWS = 4_000
CORPUS_DOCS = 1_000
LANGS = ("en", "de", "fr", "es")
MIX_RATES = {"en": 1.0, "de": 0.8, "fr": 0.6, "es": 0.5}


def gen_release(root: str, rng) -> dict:
    """One database per priority branch, each with two big tables split
    into 3 and 4 parts and three small ones; one ships CHECKSUMS.gz."""
    dbs = {}
    for i, name in enumerate(_db_names(RELEASE_DBS)):
        tables = {t: (n, 1) for t, n in RELEASE_SMALL.items()}
        tables.update(RELEASE_BIG)
        dbs[name] = write_database(root, name, tables, rng, gz_manifest=(i == 1))
    return {"databases": dbs}


def gen_mirror_release(root: str, rng) -> dict:
    """A release to mirror, then parts landing after it for the tail
    (kept apart: every directory of a work dir is a database)."""
    return {"release": gen_release(os.path.join(root, "release"), rng),
            "tail": gen_mirror_tail(os.path.join(root, "tail"), rng)}


def gen_mirror_many_small(root: str, rng) -> dict:
    """Many databases of tiny tables: fixed per-database and per-table
    costs dominate."""
    dbs = {}
    for i, name in enumerate(_db_names(MANY_DBS)):
        tables = {t: (MANY_ROWS, 1) for t in SMALL_TABLES[:MANY_TABLES]}
        dbs[name] = write_database(root, name, tables, rng, gz_manifest=(i == 1))
    return {"databases": dbs}


def gen_mirror_tail(root: str, rng) -> dict:
    """A landing directory of exon parts with globally unique keys, plus
    the DDL the stream's schema comes from."""
    landing = os.path.join(root, "landing")
    os.makedirs(landing)
    cols = _table("exon", rng, TAIL_PARTS * TAIL_ROWS)
    with open(os.path.join(root, "exon.sql.gz"), "wb") as f:
        f.write(_gz(_ddl({"exon": cols}, "exon").encode()))
    size = 0
    for p in range(TAIL_PARTS):
        data = _gz(_tsv(cols, p * TAIL_ROWS, (p + 1) * TAIL_ROWS))
        size += len(data)
        with open(os.path.join(landing, f"exon.{p + 1:04d}.txt.gz"), "wb") as f:
            f.write(data)
    return {"rows": TAIL_PARTS * TAIL_ROWS, "key": "exon_id", "input_bytes": size,
            "digest": {c.name: c.digest() for c in cols}}


def _vocab(lang_idx: int, size: int = 1500) -> np.ndarray:
    """A language's word list: syllable strings of 3 to 9 letters. The
    same for every seed, so seeds vary the documents, not the language."""
    rng = np.random.default_rng(1000 + lang_idx)
    syl = np.array(["ka", "to", "ri", "men", "sal", "be", "ur", "lo", "vin", "dra",
                    "qu", "es", "ne", "ob", "tz"])
    words = set()
    while len(words) < size:
        k = int(rng.integers(2, 4))
        w = "".join(syl[rng.integers(0, len(syl), k)]) + "xyzw"[lang_idx]
        if 3 <= len(w) <= 9:
            words.add(w)
    return np.array(sorted(words))


#: Word-rank law of the corpus: p(rank k) proportional to 1 / k**ZIPF_A
#: over a 1500-word vocabulary.
ZIPF_A = 1.3


def gen_training_corpus(root: str, rng) -> dict:
    """Zipf-worded documents over four languages: 80% originals, 10%
    exact-duplicate variants (case and whitespace changes) and 10%
    near-duplicates (one word replaced). Every document passes the
    quality filter (100..400 chars, mean word length 3..10), so the
    exact-dedup survivors are known: originals plus near-duplicates."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    vocabs = [_vocab(i) for i in range(len(LANGS))]
    weights = 1.0 / np.arange(1, len(vocabs[0]) + 1) ** ZIPF_A
    weights /= weights.sum()
    n = CORPUS_DOCS
    n_exact_var = n // 10
    n_near = n // 10
    n_orig = n - n_exact_var - n_near
    texts, langs = [], []
    for _ in range(n_orig):
        li = int(rng.integers(0, len(LANGS)))
        words = list(vocabs[li][rng.choice(len(weights), 60, p=weights)])
        text = " ".join(words)
        while len(text) > 330:
            words.pop()
            text = " ".join(words)
        texts.append(text)
        langs.append(LANGS[li])
    for _ in range(n_exact_var):
        j = int(rng.integers(0, n_orig))
        words = texts[j].split(" ")
        words[0] = words[0].upper()
        texts.append("  ".join(words[:3]) + " " + " ".join(words[3:]) + " ")
        langs.append(langs[j])
    for _ in range(n_near):
        j = int(rng.integers(0, n_orig))
        li = LANGS.index(langs[j])
        words = texts[j].split(" ")
        k = len(words) // 2
        repl = vocabs[li][-1 - int(rng.integers(0, 50))]
        words[k] = repl if repl != words[k] else repl[:-1] + "q"
        texts.append(" ".join(words))
        langs.append(langs[j])
    order = rng.permutation(n)
    ids = np.arange(1, n + 1, dtype=np.int64)
    texts = [texts[i] for i in order]
    langs = [langs[i] for i in order]
    norm = {" ".join(t.lower().split()) for t in texts}
    table = pa.table({"doc_id": ids, "lang": langs, "text": texts})
    os.makedirs(os.path.join(root, "corpus"))
    pq.write_table(table, os.path.join(root, "corpus", "part-0.parquet"))
    bench = pa.table({"text": texts[:40]})
    os.makedirs(os.path.join(root, "benchmark"))
    pq.write_table(bench, os.path.join(root, "benchmark", "part-0.parquet"))
    return {
        "n_input": n,
        "n_exact": len(norm),
        "input_bytes": sum(len(t.encode()) for t in texts),
    }


GENERATORS = {
    "mirror_release": gen_mirror_release,
    "mirror_many_small": gen_mirror_many_small,
    "training_corpus": gen_training_corpus,
    "mirror_tail": gen_mirror_tail,
}


def ensure_inputs(cache_root: str, workload: str, seed: int) -> str:
    """Generated inputs for (workload, seed), made once and cached.
    Returns the input directory; ``expected.json`` sits inside it."""
    final = os.path.join(cache_root, f"{workload}-{seed}")
    if os.path.exists(os.path.join(final, "expected.json")):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    expected = GENERATORS[workload](os.path.join(tmp, "in"), np.random.default_rng(seed))
    with open(os.path.join(tmp, "expected.json"), "w") as f:
        json.dump(expected, f, sort_keys=True)
    shutil.rmtree(final, ignore_errors=True)
    os.replace(tmp, final)
    return final

