"""The queries that persist() intermediates must not leak cached blocks
past their own execution. ``test_queries_smoke`` leak-checks every
registered query; these are named here so a leak in one that persists
on purpose reads as such. Each query runs once per session
(``run_registered_query``), whichever test asks first.
"""

from __future__ import annotations

import pytest

from tests.test_plans import run_registered_query

_PERSISTING = [
    "association_rules", "minhash_lsh_pairs", "ngram_jaccard_pairs",
    "fuzzy_customer_pairs", "dedup_recall_eval", "copurchase_pagerank",
    "copurchase_triangles", "copurchase_bfs_levels",
    "copurchase_linkpred_lsh", "dedup_clusters", "kmeans_embeddings",
]


@pytest.mark.parametrize("name", _PERSISTING)
def test_no_cached_blocks_leak(spark, name):
    # localCheckpoint RDDs legitimately stay registered -- they BACK the
    # returned result; a plain persisted intermediate must not survive
    _, leaked = run_registered_query(spark, name)
    assert not leaked, f"{name} left cached intermediates: {leaked}"
