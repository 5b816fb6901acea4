"""Vector math as pure Column expressions.

All JVM-side (Catalyst higher-order functions — `aggregate`,
`zip_with`, `transform`): no Python workers, no serialization across
the language boundary. Note HOFs evaluate via CodegenFallback
(interpreted Catalyst, still JVM) rather than whole-stage codegen —
exactness and portability are the point of this path; for raw
throughput fan-out use operators.knn.topk_batch_np (Arrow + BLAS).
Accumulation is sequential left-to-right in DOUBLE, which matches the
DuckDB oracle's `list_sum(list_transform(list_zip(a, b), x ->
x[1]*x[2]))` exactly, so value-hash comparisons are bit-stable.

Reference parity: scripts/prepare_data.py:101 (test_similarity dot
matrix), scripts/milvus_db.py:40 (COSINE metric collections).
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

# Non-finite doubles have no SQL literal form; the cast is wrapped in
# coalesce so the element stays non-nullable, as F.lit(float) is.
_NON_FINITE = {
    "nan": "coalesce(CAST('NaN' AS DOUBLE), 0D)",
    "inf": "coalesce(CAST('Infinity' AS DOUBLE), 0D)",
    "-inf": "coalesce(CAST('-Infinity' AS DOUBLE), 0D)",
}


def _sql_lit(v, integral: bool) -> str:
    if hasattr(v, "tolist"):  # numpy array or scalar
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return "array(" + ", ".join(_sql_lit(x, integral) for x in v) + ")"
    if integral:
        # typed like F.lit(int): int when it fits 32 bits, else bigint
        return str(int(v))
    x = float(v)
    if math.isfinite(x):
        # repr is the shortest string that parses back to the same
        # double; the D suffix makes the parser read it as one
        return repr(x) + "D"
    return _NON_FINITE[repr(x)]


def array_lit(values, integral: bool = False) -> Column:
    """A constant vector, matrix or 3-D tensor (nested lists) as ONE
    SQL array literal, parsed in one JVM call.

    F.lit(list) and F.array(*[F.lit(x) ...]) cost one py4j round-trip
    per scalar: 0.5-1.7 s for 16x64 centroids against ~5 ms here. The
    values and the Spark type are exactly those of the F.lit nest of
    floats (``integral=True``: of ints), non-nullable at every level."""
    return F.expr(_sql_lit(values, integral))


def _as_double(col: Column) -> Column:
    return col.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    """Sequential-sum dot product in double precision."""
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; full formula (no unit-norm assumption)."""
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def euclidean(a: Column, b: Column) -> Column:
    d = F.zip_with(_as_double(a), _as_double(b), lambda x, y: x - y)
    return F.sqrt(F.aggregate(d, F.lit(0.0), lambda acc, v: acc + v * v))
