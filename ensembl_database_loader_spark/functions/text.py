"""Text-analysis column expressions (all JVM-side — built-in functions
and higher-order lambdas, no Python UDFs in these hot paths).

These are the primitives under the training-data operators: exact/near
dedup, fingerprinting, language-ID heuristics, quality scoring. Each has
a documented DuckDB-SQL twin (kept adjacent in plans/llm.py) so the
whole family stays oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Fold modulus for polynomial hashes — small enough that acc*31+255
#: never overflows BIGINT (ANSI mode errors on overflow), large enough
#: to spread 30 usable bits.
HASH_MOD = 1_000_000_007


def normalize_text(col: str | Column) -> Column:
    """Dedup normalization: lowercase, trim, collapse whitespace runs."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")


def tokens(col: str | Column) -> Column:
    """Whitespace tokens of normalized text."""
    return F.split(normalize_text(col), " ")


def word_shingles(tokens_col: Column, n: int = 3) -> Column:
    """Distinct n-word shingles from a token array (empty when the doc is
    shorter than n tokens — guarded because Spark's sequence() would
    otherwise produce a descending range)."""
    toks = tokens_col
    ngram = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j + 1) for j in range(n)]),
    )
    return F.when(F.size(toks) >= n, F.array_distinct(ngram)).otherwise(
        F.array().cast("array<string>")
    )


def shingle_udf(n: int = 3):
    """Arrow-batched pandas UDF: text -> distinct n-word shingles.

    Semantically identical to ``word_shingles(tokens(col), n)`` but
    ~50x faster: the JVM higher-order transform/element_at chain is
    interpreted (outside whole-stage codegen), while this runs a tight
    Python loop per Arrow batch. Normalization replicates the JVM twin
    exactly: trim strips ASCII spaces only, whitespace class is Java's
    ASCII-only ``\\s`` (NOT Python's Unicode \\s), lowercase after trim.
    Shingle order differs from the JVM version (first-occurrence vs
    positional) — irrelevant, shingle arrays are sets under Jaccard/
    MinHash. A null text gives a null array, as the JVM twin does."""
    import re

    ws = re.compile(r"[ \t\n\x0b\f\r]+")

    @F.pandas_udf("array<string>")
    def _sh(s):  # type: ignore[no-untyped-def]  # (pd.Series -> pd.Series)
        def h(x: str | None) -> list[str] | None:
            if x is None:
                return None
            t = ws.sub(" ", x.strip(" ").lower()).split(" ")
            if len(t) < n:
                return []
            return list(dict.fromkeys(" ".join(t[i : i + n]) for i in range(len(t) - n + 1)))

        return s.map(h)

    # asNondeterministic: the function is pure, but leaving it
    # deterministic lets InferFiltersFromGenerate duplicate the whole
    # Arrow evaluation under every explode(shingles) — two
    # ArrowEvalPython nodes shingling every document twice (guide
    # §4.4). Marking it non-deterministic pins a single evaluation;
    # rows are unchanged (an empty shingle array explodes to nothing
    # with or without the inferred size(sh)>0 pre-filter).
    return _sh.asNondeterministic()


def poly_hash(col_sql: str) -> Column:
    """Polynomial rolling hash over a string's characters:
    fold(acc*31 + codepoint) mod 1e9+7 — identical to the DuckDB
    list_reduce twin (see plans/llm.py). Used for document
    fingerprinting and SimHash token hashing.

    ``col_sql`` is a SQL expression string (column name or expression)
    because Spark's Python lambda DSL can't index substring positions;
    the expression form keeps the whole fold in codegen."""
    return F.expr(
        f"aggregate(transform(sequence(1, length({col_sql})), "
        f"i -> CAST(ascii(substring({col_sql}, i, 1)) AS BIGINT)), "
        f"CAST(0 AS BIGINT), (acc, b) -> (acc * 31 + b) % {HASH_MOD})"
    )


def filter_map_lines(
    df,
    line_col: str,
    keep_rlike: str | None = None,
    alter_pattern: str | None = None,
    alter_replacement: str = "",
):
    """V1 (vestigial in the reference, LoadFiles.pm:170-185): keep lines
    matching a predicate, optionally rewriting them — the reference's
    file-line filter+alter expressed as rlike + regexp_replace so it
    stays inside codegen instead of a per-line Python callback."""
    out = df
    if keep_rlike is not None:
        out = out.filter(F.col(line_col).rlike(keep_rlike))
    if alter_pattern is not None:
        out = out.withColumn(
            line_col, F.regexp_replace(F.col(line_col), alter_pattern, alter_replacement)
        )
    return out


def stopword_ratio(tokens_col: Column, stopwords: tuple[str, ...]) -> Column:
    """Fraction of tokens that are stopwords."""
    sw = F.array(*[F.lit(s) for s in stopwords])
    hits = F.size(F.filter(tokens_col, lambda t: F.array_contains(sw, t)))
    return hits / F.greatest(F.size(tokens_col), F.lit(1))


def mean_token_length(tokens_col: Column) -> Column:
    total = F.aggregate(
        F.transform(tokens_col, lambda t: F.length(t).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return total / F.greatest(F.size(tokens_col), F.lit(1))
