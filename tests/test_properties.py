"""Property-based tests (hypothesis) for the pure algorithmic kernels —
stronger than the reference's golden-string-only strategy (SURVEY.md §5)."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from meos_rs_spark.functions.similarity import (
    dtw_distance,
    frechet_distance,
    hausdorff_distance,
)
from meos_rs_spark.functions.simplify import douglas_peucker_mask

coords = st.floats(min_value=-100, max_value=100, allow_nan=False, allow_infinity=False)
curve = st.lists(st.tuples(coords, coords), min_size=1, max_size=12).map(np.array)


@settings(max_examples=50, deadline=None)
@given(curve, curve)
def test_similarity_symmetry(a, b):
    assert dtw_distance(a, b) == dtw_distance(b, a)
    assert frechet_distance(a, b) == frechet_distance(b, a)
    assert hausdorff_distance(a, b) == hausdorff_distance(b, a)


@settings(max_examples=50, deadline=None)
@given(curve)
def test_similarity_identity(a):
    assert dtw_distance(a, a) == 0.0
    assert frechet_distance(a, a) == 0.0
    assert hausdorff_distance(a, a) == 0.0


@settings(max_examples=50, deadline=None)
@given(curve, curve)
def test_frechet_bounds_hausdorff(a, b):
    # discrete Fréchet dominates Hausdorff; both dominated by max pair distance
    h = hausdorff_distance(a, b)
    f = frechet_distance(a, b)
    dmax = float(np.sqrt(((a[:, None, :] - b[None, :, :]) ** 2).sum(axis=2)).max())
    assert f >= h - 1e-9
    assert f <= dmax + 1e-9


def _perp(p, a, b):
    ab = b - a
    denom = np.hypot(*ab)
    if denom == 0.0:
        return float(np.hypot(*(p - a)))
    return float(abs(ab[0] * (a[1] - p[1]) - (a[0] - p[0]) * ab[1]) / denom)


@settings(max_examples=50, deadline=None)
@given(curve, st.floats(min_value=0, max_value=50, allow_nan=False))
def test_dp_error_guarantee(pts, eps):
    """The DP invariant: every dropped point lies within eps of the segment
    joining its enclosing kept points."""
    keep = douglas_peucker_mask(pts, eps)
    assert len(keep) == len(pts)
    assert keep[0] and keep[-1]  # endpoints always survive
    kept_idx = np.flatnonzero(keep)
    for lo, hi in zip(kept_idx, kept_idx[1:]):
        for m in range(lo + 1, hi):
            assert _perp(pts[m], pts[lo], pts[hi]) <= eps + 1e-9


@settings(max_examples=50, deadline=None)
@given(curve, curve, st.floats(min_value=0.1, max_value=50, allow_nan=False))
def test_lcss_symmetry_and_bounds(a, b, eps):
    from meos_rs_spark.functions.similarity import lcss_similarity

    s = lcss_similarity(a, b, eps)
    assert 0.0 <= s <= 1.0
    assert s == lcss_similarity(b, a, eps)
    assert lcss_similarity(a, a, eps) == 1.0


@settings(max_examples=50, deadline=None)
@given(curve, curve)
def test_erp_metric_properties(a, b):
    from meos_rs_spark.functions.similarity import erp_distance

    g = np.zeros(2)
    d = erp_distance(a, b, g)
    assert d >= 0.0
    assert d == erp_distance(b, a, g)                    # symmetry
    assert erp_distance(a, a, g) == 0.0                  # identity
    # triangle inequality through a third curve (ERP is a true metric)
    c = a[: max(1, len(a) // 2)]
    lhs = erp_distance(a, b, g)
    rhs = erp_distance(a, c, g) + erp_distance(c, b, g)
    assert lhs <= rhs + 1e-9


# --- upsert-sink merge algebra (snk_jdbc_upsert partition-order freedom) ----
#
# The sqlite ON CONFLICT merge applies per-partition batches in whatever
# order executors land; the final store is deterministic ONLY if the merge
# is commutative, associative, and idempotent over normalized trips. Pin
# exactly those properties on the pure kernel.

_point = st.tuples(
    st.integers(min_value=0, max_value=20),      # ts_us (small domain -> collisions)
    st.floats(-180, 180, allow_nan=False),       # lon
    st.floats(-90, 90, allow_nan=False),         # lat
    st.integers(min_value=0, max_value=5),       # event_id (collisions likely)
    st.integers(min_value=0, max_value=1),       # pri
).map(list)
_trip = st.lists(_point, max_size=12)


@given(_trip, _trip)
@settings(max_examples=200, deadline=None)
def test_trip_merge_commutative(a, b):
    import json

    from meos_rs_spark.queries.sources_sinks import _trip_merge_json, _trip_normalize

    ja, jb = json.dumps(_trip_normalize(a)), json.dumps(_trip_normalize(b))
    assert _trip_merge_json(ja, jb) == _trip_merge_json(jb, ja)


@given(_trip, _trip, _trip)
@settings(max_examples=200, deadline=None)
def test_trip_merge_associative(a, b, c):
    import json

    from meos_rs_spark.queries.sources_sinks import _trip_merge_json, _trip_normalize

    ja, jb, jc = (json.dumps(_trip_normalize(x)) for x in (a, b, c))
    assert _trip_merge_json(_trip_merge_json(ja, jb), jc) == _trip_merge_json(
        ja, _trip_merge_json(jb, jc)
    )


@given(_trip)
@settings(max_examples=200, deadline=None)
def test_trip_merge_idempotent_and_normalize_stable(a):
    import json

    from meos_rs_spark.queries.sources_sinks import _trip_merge_json, _trip_normalize

    n = _trip_normalize(a)
    assert _trip_normalize(n) == n  # normalize is a projection
    ja = json.dumps(n)
    assert _trip_merge_json(ja, ja) == ja  # re-delivery of a batch is a no-op
    # one point per timestamp, sorted
    ts = [p[0] for p in n]
    assert ts == sorted(set(ts))


# --- resample grid-ceiling alignment (r15) ---------------------------------

_TS_US = st.integers(
    min_value=-2_208_988_800_000_000,  # 1900-01-01 in epoch micros
    max_value=253_402_300_799_000_000,  # 9999-12-31
)


@given(_TS_US)
@settings(max_examples=500, deadline=None)
def test_resample_ceiling_formulas_are_exact_and_engine_identical(p):
    """r15: traj_resample_linear's first-marker alignment must be TRUE
    ceiling to the 6h grid on the whole timeline — both engines' integer
    division truncates toward zero, so the old (p+s-1) DIV s form skipped
    the first pre-epoch grid instant. Pins that the Spark spelling
    (p + pmod(-p, s)) and the DuckDB spelling (p + ((-p % s) + s) % s,
    with C-style trunc-sign %) both equal math.ceil semantics, including
    exactly-aligned and negative stamps."""
    import math

    s = 21_600_000_000
    true_ceil = math.ceil(p / s) * s  # float-safe? p/s may lose precision…
    true_ceil = -((-p) // s) * s  # …so use exact integer ceiling instead

    # Spark: pmod(a, b) is the positive modulus
    spark_g0 = p + ((-p) % s)  # python % IS positive-mod for positive s
    # DuckDB: % is trunc-signed (C semantics: sign follows the dividend)
    def trunc_mod(a, b):
        return a % b if a >= 0 else -((-a) % b)

    duck_inner = trunc_mod(-p, s)
    duck_g0 = p + ((duck_inner + s) % s)

    assert spark_g0 == true_ceil
    assert duck_g0 == true_ceil
    assert spark_g0 >= p and spark_g0 - p < s and spark_g0 % s == 0
