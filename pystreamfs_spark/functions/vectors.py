"""Vector math over array<float/double> columns — JVM-side, no Python in
the hot path.

Every function is one higher-order-function fold (``aggregate`` /
``zip_with``) that works for any array length, with each product cast to
double first. Spark's HOFs are ``CodegenFallback`` (evaluated interpreted,
row by row), so pair joins fold each row's norm once before the join and
pass it to :func:`cosine_with_norms`. A ``dims``-unrolled codegen form
was removed because no caller used it and it measured no end-to-end win:
semantic_dedup ran 9.82 s unrolled vs 7.39 s folded, a wash at 250k
pairs (r06) — re-add an unroll only with a measured win.

Operands are ``Column | str`` (a str is a column name).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(x: "Column | str") -> Column:
    return F.col(x) if isinstance(x, str) else x


def dot(a: "Column | str", b: "Column | str") -> Column:
    # cast BEFORE multiplying: float32 inputs must not multiply in float32
    return F.aggregate(
        F.zip_with(_c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: "Column | str") -> Column:
    return F.sqrt(
        F.aggregate(_c(a), F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )


def cosine(a: "Column | str", b: "Column | str") -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_with_norms(
    a: "Column | str",
    b: "Column | str",
    na: Column,
    nb: Column,
) -> Column:
    """cosine(a, b) with caller-precomputed norms — bit-identical to
    :func:`cosine` (same dot fold, same ``na * nb`` product order), but a
    pair join can fold each row's norm ONCE instead of once per partner:
    3 array folds per pair drop to 1. Pass ``na = norm(a)`` computed on
    the pre-join side."""
    return dot(a, b) / (na * nb)
