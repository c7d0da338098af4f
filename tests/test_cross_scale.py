"""Alternating-scale session safety: one session running the same query at
two fixture scales must produce each scale's correct answer.

This is the end-to-end twin of the ``two_fixture_dirs`` case of
test_staging.test_restage_rewrites_and_serves_the_new_rows (the r6
regression served the sf0.001 staged table as the sf0.01 result),
extended to the side-table quantizer queries, whose executor-side caches
add a second way for stale state to leak across scales. The parity suite can't see this: it runs one scale per
session."""

from __future__ import annotations

import pytest

from meos_rs_spark.registry import load_registry
from tests.conftest import SF_ORACLE, SF_SMOKE
from tests.oracle import compare, duck_connection

# every staging- or side-table-backed query family: minhash (staged
# signature), SemDeDup + kmeans + IVF + PQ (source-derived quantizers in
# worker caches), pagerank (staged edges)
QUERIES = [
    "dedup_minhash_lsh",
    "dedup_minhash_estimate",
    "dedup_semantic",
    "sim_kmeans_iter",
    "sim_ann_ivf",
    "sim_pq_ann",
    "sim_pagerank",
]

SCALES = [SF_SMOKE, SF_ORACLE, SF_SMOKE]


@pytest.mark.parametrize("name", QUERIES)
def test_alternating_scales_one_session(spark, name):
    spec = load_registry()[name]
    for sf_dir in SCALES:
        con = duck_connection(sf_dir)
        issues = compare(spec.fn(spark, sf_dir), con.sql(spec.oracle).df(), name)
        assert not issues, (sf_dir, issues)
        con.close()
