"""Column/SQL pairs that evaluate bit-identically in Spark and in the
DuckDB oracle. Each primitive is stated once here; operators and
oracles build on these names rather than respelling them.

Rounding. ``round()`` differs between engines on exact half-way doubles
(Spark rounds HALF_UP via BigDecimal, DuckDB half-to-even on doubles),
which shows up when rule outputs are blends of already-rounded values.
The floor-based ``pround`` evaluates identically because both engines
see the same IEEE double and ``floor`` has no tie cases.

Text. ``norm`` / ``SQL_NORM`` lower-cases, trims and collapses every
whitespace run to one space; ``tokens`` / ``SQL_TOKENS`` split the
normalized text on ``' '``; ``word_tokens`` explodes the tokens of a
frame's ``text`` column and drops empty ones.

Hash. ``hash60`` / ``sql_hash60`` read the first 15 hex chars of md5 as
a BIGINT in [0, 2^60); ``uniform01`` builds on it.
``spark_sql_uniform01`` is its Spark-SQL text, for expressions parsed in
one ``F.expr``.

Vectors. ``dot`` is a left fold over the element products, the same
order DuckDB's ``list_dot_product`` sums in, so both engines give the
same double; ``l2norm``, ``cosine`` and ``sq_dist`` (the
``|a|^2 - 2<a,b> + |b|^2`` fold) are built from it, each with its
``sql_*`` twin. Callers round the result themselves.

NULL and blank text. A NULL text normalizes to NULL and has NULL
tokens, which explode to no rows: a NULL doc contributes no token and
no shingle, in both engines. A blank text (``''`` or whitespace only)
normalizes to ``''`` and splits to the one-element array ``['']``, so it
has one token, the empty string; ``word_tokens`` drops it, and an
operator that counts array elements sees 1. A ratio whose denominator
can be 0 (a blank doc's ``n_chars``) divides with ``try_divide``, NULL
where DuckDB's ``/`` gives NULL, rather than raising under ANSI.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def pround(c: Column | str, n: int = 4) -> Column:
    scale = float(10**n)
    return F.floor(_col(c) * scale + F.lit(0.5)) / F.lit(scale)


def sql_pround(expr: str, n: int = 4) -> str:
    scale = float(10**n)
    return f"floor(({expr}) * {scale} + 0.5) / {scale}"


# Order-independent float aggregation: double sums depend on accumulation
# order (partitioning / Expand nodes / engine), which flips the last
# rounded digit on large groups. Summing exact DECIMAL(28,6) is
# associative-commutative-exact; one double division + round at the end
# is deterministic on both engines.


# The exact sums make quotients land on exact half-way decimals far more
# often than raw float sums do, so the final rounding MUST be the pround
# floor form — engine-native round() diverges exactly there (HALF_UP vs
# shortest-repr behavior).


def davg(c: Column | str, n: int = 4) -> Column:
    c = _col(c)
    return pround(
        F.sum(c.cast("decimal(28,6)")).cast("double") / F.count(c), n
    )


def sql_davg(expr: str, n: int = 4) -> str:
    return sql_pround(
        f"(sum(({expr})::DECIMAL(28,6)))::DOUBLE / count({expr})", n
    )


def dsum_exact(c: Column | str) -> Column:
    """Order-independent raw double sum: exact DECIMAL(28,6)
    accumulation cast back to double WITHOUT final rounding — for
    callers that combine several moment sums in one closed-form
    expression (corr, OLS, cosine) and round once at the end."""
    return F.sum(_col(c).cast("decimal(28,6)")).cast("double")


def dsum(c: Column | str, n: int = 2) -> Column:
    return pround(dsum_exact(c), n)


def sql_dsum(expr: str, n: int = 2) -> str:
    return sql_pround(f"(sum(({expr})::DECIMAL(28,6)))::DOUBLE", n)


# Explicit whitespace class: Java's \s includes \x0B, RE2's does not —
# spelling the class out keeps Spark and the oracle bit-identical on any
# input, not just the ASCII-printable test corpus.
_WS = r"[ \t\n\r\f\x0B]+"

SQL_NORM = (
    "regexp_replace(lower(trim(text)), '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')"
)
SQL_TOKENS = f"string_split({SQL_NORM}, ' ')"


def norm(c: Column | str) -> Column:
    return F.regexp_replace(F.lower(F.trim(_col(c))), _WS, " ")


def tokens(c: Column | str) -> Column:
    return F.split(norm(c), " ")


def word_tokens(df: DataFrame, *keep: str) -> DataFrame:
    """``keep`` columns plus one ``tok`` row per non-empty token of
    ``text``."""
    return df.select(
        *keep, F.explode(tokens("text")).alias("tok")
    ).filter(F.col("tok") != "")


def hash60(c: Column | str) -> Column:
    return F.conv(F.substring(F.md5(_col(c)), 1, 15), 16, 10).cast("long")


def sql_hash60(expr: str) -> str:
    return f"(('0x' || substr(md5({expr}), 1, 15)))::BIGINT"


# md5-derived uniform in (0, 1]: the deterministic stand-in for rand()
# every hash-randomized operator here builds on (weighted sampling,
# bootstrap multiplicities). (hash60 + 1) / 2^60 — the +1 keeps ln(u)
# finite; 2^60 because hash60 is the first 15 md5 hex chars. One
# definition on each engine so the parity-critical formula can never
# drift per-operator.


def uniform01(c: Column | str) -> Column:
    return (hash60(c) + 1) / F.lit(float(2**60))


def sql_uniform01(expr: str) -> str:
    return f"(({sql_hash60(expr)} + 1))::DOUBLE / {2**60}.0"


def spark_sql_uniform01(expr: str) -> str:
    """Spark-SQL text of ``uniform01``: it parses to the same tree."""
    return (
        f"(cast(conv(substring(md5({expr}), 1, 15), 16, 10) as bigint) + 1)"
        f" / cast({2**60} as double)"
    )


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2norm(a) * l2norm(b))


def sq_dist(a: Column, b: Column) -> Column:
    return dot(a, a) - 2 * dot(a, b) + dot(b, b)


def sql_dot(a: str, b: str) -> str:
    return f"list_dot_product({a}, {b})"


def sql_l2norm(a: str) -> str:
    return f"sqrt({sql_dot(a, a)})"


def sql_cosine(a: str, b: str) -> str:
    return f"({sql_dot(a, b)} / ({sql_l2norm(a)} * {sql_l2norm(b)}))"


def sql_sq_dist(a: str, b: str) -> str:
    return f"({sql_dot(a, a)} - 2 * {sql_dot(a, b)} + {sql_dot(b, b)})"
