"""Driver-window ordering: the driver records CORRECTNESS rows for the
FIRST 50 entries of __spark_entry__.queries() only (observed in r2), so the
round's verification targets must occupy exactly those positions.

Since round 6 the head is COMPUTED from the committed CORRECTNESS_r*.json
artifacts (registry.compute_verify_head). EXPECTED_HEAD pins the tuple the
committed artifacts produce; when the driver lands the next CORRECTNESS
artifact the pin goes stale and test_computed_head_matches_the_round17_pin
fails — the next round's first task is then reviewing the freshly computed
rotation (the failure message prints it, with the newest round read) and
re-pinning it here. A re-pin replaces only the EXPECTED_HEAD tuple and its
comment. The test's name stays fixed although it names round 17: earlier
rounds renamed it on each re-pin, so the suite saw a vanished test plus a
new one instead of one test going red and green again. Per r9 ADVICE, any
commit that changes the computed head (a new CORRECTNESS artifact OR a
registry change) must carry the matching re-pin in the SAME commit so the
gate never goes red between commits.
"""

from __future__ import annotations

import __spark_entry__ as entry
from meos_rs_spark.registry import (
    DRIVER_WINDOW,
    _correctness_history,
    compute_verify_head,
    load_registry,
    verify_order_head,
)

# Round-18 rotation computed from CORRECTNESS_r01..r17: zero reds, zero
# never-checked, zero forced (nothing changed query semantics since r17, so
# FORCE_VERIFY is empty). Pure oldest-green rotation: the 6 r12 greens
# first, then the 2 r13 greens, then the first 42 of the 49 r14 greens in
# registration order up to the 50-row window. The 7 r14 greens left out
# (scalar_strings, ttype_tint_step, ttype_tbool_algebra,
# ttype_tfloat_sync_arith, trajsim_dtw_frechet, trajsim_lcss_erp,
# win_lag_dedup) sit later in registration order.
EXPECTED_HEAD = (
    "src_csv_malformed",
    "src_binaryfile_ingest",
    "text_token_count",
    "rel_join_asof",
    "rel_unpivot",
    "rel_join_asof_nearest",
    "src_csv_roundtrip",
    "text_decontaminate",
    "box_tbox_algebra",
    "dedup_components",
    "flagship_trip_pipeline",
    "serde_hexwkb",
    "traj_merge",
    "traj_equality",
    "traj_sample",
    "traj_ever_always",
    "traj_arith",
    "traj_sessionize",
    "traj_simplify_dp",
    "traj_spanset_coverage",
    "traj_transform_utm",
    "traj_transform_lcc",
    "traj_transform_utm_roundtrip",
    "traj_tbool_duration",
    "traj_tcount_sweep",
    "traj_twavg",
    "traj_at_value",
    "traj_tmax_sweep",
    "serde_wkt_malformed",
    "snk_jsonl_trips",
    "snk_upsert_merge",
    "snk_jdbc_upsert",
    "text_fingerprint",
    "rel_join_semi",
    "rel_join_anti",
    "rel_join_range",
    "rel_join_band_bucketed",
    "rel_join_multiway",
    "rel_distinct",
    "rel_count_distinct",
    "rel_rollup",
    "rel_cube",
    "rel_topk_orders",
    "rel_set_ops",
    "rel_global_metrics",
    "rel_filter_agg",
    "rel_correlated_subquery",
    "rel_salted_agg",
    "rel_disjunctive_join",
    "rel_funnel_steps",
)


def test_head_is_exactly_the_driver_window():
    head = verify_order_head()
    assert len(head) == DRIVER_WINDOW == 50
    assert len(set(head)) == 50
    names = list(entry.queries())
    assert tuple(names[:50]) == head


def test_computed_head_matches_the_round17_pin():
    # Stale-pin alarm: fails as soon as a new CORRECTNESS artifact lands,
    # forcing the next round to review + re-pin the rotation.
    head = verify_order_head()
    newest = max((r for r, _ in _correctness_history().values()), default=0)
    assert head == EXPECTED_HEAD, (
        f"verify-window rotation moved (newest artifact read: "
        f"CORRECTNESS_r{newest:02d}.json); review and re-pin "
        f"EXPECTED_HEAD = {head!r}"
    )


def test_head_priority_rule():
    """Never-checked before green, and unforced greens oldest-round-first."""
    from meos_rs_spark.registry import FORCE_VERIFY

    names = list(load_registry())
    latest = _correctness_history()
    head = compute_verify_head(names)
    # every never-checked query is in the head (backlog fits the window)
    never = [n for n in names if n not in latest]
    assert len(never) <= 50
    assert set(never) <= set(head)
    # every forced (changed-this-round) green is in the head too
    assert {n for n in FORCE_VERIFY if n in latest} <= set(head)
    # unforced greens in the head appear oldest round first...
    green_rounds = [
        latest[n][0] for n in head if n in latest and n not in FORCE_VERIFY
    ]
    assert green_rounds == sorted(green_rounds)
    # ...and none is newer than any green left out of the window
    left_out = [latest[n][0] for n in names if n in latest and n not in set(head)]
    if green_rounds and left_out:
        assert max(green_rounds) <= min(left_out)
    # ...and within one round registration order breaks the tie: the head's
    # greens, then the greens left out, form one ascending (round,
    # registration position) run — so same-round greens later in
    # registration order are the ones that fall outside the window
    pos = {n: i for i, n in enumerate(names)}
    unforced_greens = [
        n for n in names
        if n in latest and latest[n][1] and n not in FORCE_VERIFY
    ]
    head_keys = [(latest[n][0], pos[n]) for n in head if n in unforced_greens]
    left_keys = sorted(
        (latest[n][0], pos[n]) for n in unforced_greens if n not in set(head)
    )
    assert head_keys + left_keys == sorted(head_keys + left_keys)


def test_ordering_preserves_the_full_registry():
    names = list(entry.queries())
    assert set(names) == set(load_registry())
    assert len(names) == len(set(names))
    # every oracle key is a registered query
    assert set(entry.oracle_sql()) <= set(names)
