"""Vector math over array<float> embedding columns — pure built-in
expressions (higher-order aggregate/zip_with), JVM-side, no UDFs.

Floats are widened to double before arithmetic so Spark and the DuckDB
oracle (`embedding::DOUBLE[]`) see identical inputs; at dim ≲ a few
hundred, summation-order noise is ≪ the 6dp round used by the queries.

Every helper takes column names (or SQL text) and builds ONE SQL string,
parsed JVM-side in a single py4j round trip: composing the same lambdas
Column-object by Column-object costs a round trip per node, about 4× the
build time for an equal expression.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _dot_sql(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        "0.0D, (acc, x) -> acc + x)"
    )


def _l2_sql(a: str) -> str:
    return f"sqrt(aggregate({a}, 0.0D, (acc, x) -> acc + x * x))"


def to_double_array(col: str) -> Column:
    # CAST of an array casts its elements; float→double widening is
    # exact and codegens with no lambda at all.
    return F.expr(f"CAST({col} AS ARRAY<DOUBLE>)")


def dot_product(a: str, b: str) -> Column:
    return F.expr(_dot_sql(a, b))


def l2_norm(a: str) -> Column:
    return F.expr(_l2_sql(a))


def cosine_similarity(a: str, b: str) -> Column:
    return F.expr(f"{_dot_sql(a, b)} / ({_l2_sql(a)} * {_l2_sql(b)})")


# Tiebreak modulus for the IVF cell-assignment argmin key. The distance
# bucket round((1-cos)*1e6) is ≤ 2e6, so bucket*MOD + cent_id ≤ ~2.0e15:
# exact in BIGINT on both engines (and still below 2^53 if a double ever
# carries it). cent_id must stay < MOD or the id bleeds into the
# distance component and the "tiebreak" silently stops being one —
# cell_argmin_key raises per-row rather than mis-assign.
TIEBREAK_MOD = 1_000_000_000


def cell_argmin_key(v: str, nv: str, cv: str, nc: str, cent_id: str) -> Column:
    """Composite argmin key for nearest-centroid assignment: rounded
    cosine distance in 1e-6 units, centroid id as the tiebreak. Norms
    are taken as bound columns (hoisted once per row) so the hot N×C
    expansion runs a single array pass (the dot product)."""
    return F.expr(
        f"IF({cent_id} < {TIEBREAK_MOD}, "
        f"CAST(round((1 - {_dot_sql(v, cv)} / ({nv} * {nc})) * 1000000, 0) "
        f"AS BIGINT) * {TIEBREAK_MOD} + {cent_id}, "
        f"CAST(raise_error(format_string("
        f"'cent_id %d >= tiebreak modulus %d', "
        f"{cent_id}, {TIEBREAK_MOD})) AS BIGINT))"
    )
