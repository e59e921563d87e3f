"""Vector distance expressions as pure Column functions.

These implement the three distance metrics of the Chroma API's
`hnsw:space` collection option — l2 / ip / cosine (SURVEY.md §2.2
A9-A11; the option itself is representable in the reference's
create-collection metadata map, reference src/client.rs:97).

Everything here is JVM-side — no Python in the hot path, no
serialization boundary. Elements are cast to double *before*
multiplying, and accumulated strictly left-to-right, which makes the
result bit-reproducible and matchable against an ANSI-SQL oracle doing
the same sequential math.

Two formulations, same bits:

* generic (dim unknown): higher-order functions (`zip_with` +
  `aggregate`). Correct for any length; HOF lambdas are
  CodegenFallback, so each element evaluates interpreted.
* unrolled (`dim=` given): a fixed chain of `a[i]*b[i]` terms folded
  left-to-right — ordinary expressions inside the whole-stage-codegen
  loop. The association order is identical to the sequential HOF fold,
  so the resulting double is bit-identical.

Measured tradeoff (local[32], dim=64): the unrolled form's win is
per-ROW execution cost, but its ~200-node tree costs more per ACTION —
every DataFrame action re-runs the optimizer and regenerates codegen
source over the big tree (~0.2 s at dim=64 vs ~0.02 s for the compact
HOF tree, plus a one-time ~2 s Janino compile). So the unrolled path
pays off when partitions are large (millions of pairs per action —
the collection-API / cluster regime, where per-row interpretation
dominates), while small interactive queries are faster with the HOF
form. No KNN ranking runs either: `knn_exact` (operators/knn.py),
behind `collection.query()` and the suite's exact rows, scores in the
numpy kernel (operators/kernel.py:exact_distances), the same in-order
fold. These functions serve the per-row distance columns (the norm
"index", assignment, pair and bucket scores) and their SQL oracles.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Every public function below accepts either a Column (classic DSL path)
# or a *SQL fragment string* (a column name or any parseable expression).
# String inputs build the whole distance expression as ONE parsed
# `F.expr(...)` — a single py4j round trip instead of one per node —
# which cuts driver-side plan-build time ~3.5x for the wide vector
# trees (measured local[32], dim=64: 210 ms -> 59 ms per KNN plan).
# The string form is constructed to parse to the exact same Catalyst
# expression tree the Column form builds (0.0D double literals,
# left-associative folds, CAST AS DOUBLE per element), so results are
# bit-identical; tools/check.py verifies that on every vector query.
# Callers must backtick-quote string names that need quoting.
# ---------------------------------------------------------------------------

ColumnOrSql = "Column | str"


def _is_sql(*cols) -> bool:
    got_str = any(isinstance(c, str) for c in cols if c is not None)
    got_col = any(not isinstance(c, str) for c in cols if c is not None)
    if got_str and got_col:
        raise TypeError(
            "vector functions take either all-Column or all-string args, not a mix"
        )
    return got_str


def _float_sql(v: float) -> str:
    v = float(v)
    if not math.isfinite(v):
        raise ValueError(f"non-finite vector literal {v!r}")
    return f"{v!r}D"


def vector_lit(vec: Sequence[float]) -> Column:
    """A literal ARRAY<DOUBLE> column from a Python vector (one parse)."""
    return F.expr(vector_lit_sql(vec))


def vector_lit_sql(vec: Sequence[float]) -> str:
    """SQL fragment for a literal ARRAY<DOUBLE> (repr round-trips every
    IEEE double exactly, so the parsed array is bit-identical to the
    per-element `F.lit` form)."""
    return "array(" + ", ".join(_float_sql(v) for v in vec) + ")"


def _fold(terms: list) -> "Column | str":
    if isinstance(terms[0], str):
        return " + ".join(terms)  # parses left-associative, same as the loop
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def _dot_sql(a: str, b: str, dim: int | None) -> str:
    if dim is not None:
        # parenthesized: the unrolled form is a bare `+` chain and must
        # stay one unit inside larger expressions (`1.0D - dot / n`)
        return "(" + _fold(
            [
                f"CAST(element_at({a}, {i}) AS DOUBLE) * "
                f"CAST(element_at({b}, {i}) AS DOUBLE)"
                for i in range(1, dim + 1)
            ]
        ) + ")"
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> "
        "CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0.0D, (acc, x) -> acc + x)"
    )


# public aliases for callers composing larger single-parse expressions
def dot_product_sql(a: str, b: str, dim: int | None = None) -> str:
    return _dot_sql(a, b, dim)


def l2_norm_sql(a: str, dim: int | None = None) -> str:
    return _norm_sql(a, dim)


def float_sql(v: float) -> str:
    return _float_sql(v)


def dot_product(a, b, dim: int | None = None) -> Column:
    """Sum_i a[i]*b[i] in double precision, sequential accumulation.

    With `dim`, unrolls to codegen-friendly element terms (see module
    docstring); arrays shorter than dim yield NULL on both paths.
    """
    if _is_sql(a, b):
        return F.expr(_dot_sql(a, b, dim))
    if dim is not None:
        return _fold(
            [
                F.element_at(a, i).cast("double")
                * F.element_at(b, i).cast("double")
                for i in range(1, dim + 1)
            ]
        )
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def _norm_sql(a: str, dim: int | None) -> str:
    return f"SQRT({_dot_sql(a, a, dim)})"


def l2_norm(a, dim: int | None = None) -> Column:
    """Euclidean norm; precomputed at add-time as the 'index build'."""
    if _is_sql(a):
        return F.expr(_norm_sql(a, dim))
    return F.sqrt(dot_product(a, a, dim))


def l2_distance(a, b, dim: int | None = None) -> Column:
    """Squared L2 distance (Chroma's `l2` space is squared L2)."""
    if _is_sql(a, b):
        if dim is not None:
            return F.expr(
                "("
                + _fold(
                    [
                        f"(CAST(element_at({a}, {i}) AS DOUBLE) - "
                        f"CAST(element_at({b}, {i}) AS DOUBLE)) * "
                        f"(CAST(element_at({a}, {i}) AS DOUBLE) - "
                        f"CAST(element_at({b}, {i}) AS DOUBLE))"
                        for i in range(1, dim + 1)
                    ]
                )
                + ")"
            )
        # (x-y)*(x-y), not POWER(x-y, 2): multiplication is the one
        # form every engine computes identically, and the DuckDB twins
        # mirror it as a literal list_transform product — POWER's
        # Math.pow path is only *usually* exact for exponent 2
        return F.expr(
            f"aggregate(zip_with({a}, {b}, (x, y) -> "
            "(CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * "
            "(CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), "
            "0.0D, (acc, x) -> acc + x)"
        )
    if dim is not None:
        def sq(i: int) -> Column:
            d = F.element_at(a, i).cast("double") - F.element_at(b, i).cast("double")
            return d * d

        return _fold([sq(i) for i in range(1, dim + 1)])
    diffs = F.zip_with(
        a, b, lambda x, y: (x.cast("double") - y.cast("double"))
        * (x.cast("double") - y.cast("double"))
    )
    return F.aggregate(diffs, F.lit(0.0), lambda acc, x: acc + x)


def ip_distance(a, b, dim: int | None = None) -> Column:
    """Inner-product distance: 1 - <a, b>."""
    if _is_sql(a, b):
        return F.expr(f"1.0D - {_dot_sql(a, b, dim)}")
    return F.lit(1.0) - dot_product(a, b, dim)


def cosine_distance(
    a,
    b,
    a_norm=None,
    b_norm=None,
    dim: int | None = None,
) -> Column:
    """Cosine distance: 1 - <a,b> / (|a|·|b|).

    Pass precomputed norms (stored columns) to skip recomputing them
    per candidate pair — that precomputation is the batch "vector
    index build" of BASELINE.md.
    """
    # zero-norm guard: cosine is undefined for the zero vector and the
    # division RAISES under ANSI SQL (Spark 4 default) — the public
    # helper returns NULL instead, matching the engine-wide
    # unscorable-vector rule (callers filter NULL distances). For every
    # nonzero norm the ELSE branch is the identical expression tree.
    if _is_sql(a, b, a_norm, b_norm):
        an = a_norm if a_norm is not None else _norm_sql(a, dim)
        bn = b_norm if b_norm is not None else _norm_sql(b, dim)
        return F.expr(
            f"CASE WHEN {an} * {bn} = 0.0D THEN NULL"
            f" ELSE 1.0D - {_dot_sql(a, b, dim)} / ({an} * {bn}) END"
        )
    a_norm = a_norm if a_norm is not None else l2_norm(a, dim)
    b_norm = b_norm if b_norm is not None else l2_norm(b, dim)
    return F.when(a_norm * b_norm == F.lit(0.0), F.lit(None)).otherwise(
        F.lit(1.0) - dot_product(a, b, dim) / (a_norm * b_norm)
    )
