"""Vector column expressions over ``array<float|double>`` columns.

All pure higher-order-function compositions (``zip_with`` +
``aggregate``) — JVM-side, no UDFs, so similarity math never crosses
the Python boundary and scales linearly with executors. Those
higher-order functions are ``CodegenFallback`` expressions: they run
interpreted inside the surrounding whole-stage-codegen stage, not as
generated code.

Determinism note (oracle parity): accumulation order is the array
order, left to right, in double precision — the same order DuckDB's
list functions use — so results are bit-identical when both engines
cast float32 inputs to double first.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def to_double(col: Column | str) -> Column:
    """Cast array<float> -> array<double> (compute similarity in f64)."""
    return _c(col).cast("array<double>")


def dot(a: Column | str, b: Column | str) -> Column:
    """Dot product, sequential left-to-right double accumulation."""
    prods = F.zip_with(to_double(a), to_double(b), lambda x, y: x * y)
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: Column | str) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity in double precision."""
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def l2_normalize(a: Column | str) -> Column:
    """Unit-normalize an array<float|double> -> array<double>."""
    arr = to_double(a)
    nrm = F.sqrt(F.aggregate(F.zip_with(arr, arr, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x))
    return F.transform(arr, lambda x: x / nrm)


def l2_distance(a: Column | str, b: Column | str) -> Column:
    diffs = F.zip_with(to_double(a), to_double(b), lambda x, y: (x - y) * (x - y))
    return F.sqrt(F.aggregate(diffs, F.lit(0.0), lambda acc, x: acc + x))


def max_abs(a: Column | str) -> Column:
    """Largest absolute component, double precision. Only abs/compare —
    no accumulation — so the value is exactly the same in any engine."""
    return F.aggregate(
        to_double(a), F.lit(0.0), lambda m, x: F.greatest(m, F.abs(x))
    )


def quant_scale_int8(a: Column | str) -> Column:
    """Symmetric int8 quantization scale: max|v| / 127 (double).

    Materialize this into its own column before calling
    ``quantize_int8`` — referencing the aggregate inside the transform
    lambda would re-derive the max per element (lambda-boundary CSE,
    see operators/dedup.ngram_jaccard_pairs)."""
    return max_abs(a) / F.lit(127.0)


def quantize_int8(a: Column | str, scale: Column) -> Column:
    """Quantize array<float|double> -> array<long> in [-127, 127] given
    a MATERIALIZED per-vector ``scale`` column (see quant_scale_int8).

    Rounding is half-away-from-zero via floor(|x|/scale + 0.5) — an
    exact IEEE op sequence both Spark and a SQL oracle reproduce
    bit-identically, unlike bankers'-rounding round() (the round-1
    decimal-grid pitfall). A zero vector (scale = 0) quantizes to all
    zeros rather than dividing by zero.

    The int8 code, its reconstruction v ~= q * scale, and the exact
    integer sums over codes are the storage/compute shape a 100 TB
    embedding store actually ships (4x smaller than float32, SIMD
    int8 dot products); everything here is a map-side projection.
    """
    arr = to_double(a)
    q = lambda x: F.when(scale == 0, F.lit(0).cast("long")).otherwise(
        F.when(x >= 0, F.floor(x / scale + F.lit(0.5))).otherwise(
            -F.floor(-x / scale + F.lit(0.5))
        )
    )
    return F.transform(arr, q)


def dim_check(a: Column | str, dim: int) -> Column:
    """Boolean: vector has exactly ``dim`` elements, none null.

    Mirrors the reference's embed-time dimensionality validation
    (index_documents.py:181-185) as a relational predicate.
    """
    arr = _c(a)
    return (F.size(arr) == F.lit(dim)) & ~F.exists(arr, lambda x: x.isNull())
