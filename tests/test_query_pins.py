"""No pin outlives its query: every localCheckpoint a query (or an
operator it calls) takes is registered with pin_intermediate, so
release_pinned_indexes() leaves the JVM persistent-RDD registry as the
query found it."""

from __future__ import annotations

import pytest

import __spark_entry__  # noqa: F401  (registers the inventory)
from biosets_spark import release_pinned_indexes
from biosets_spark.queries import QUERIES
from tests.conftest import SF_SMOKE

CHECKPOINTING = [
    "q_pagerank_nations",
    "q_triangle_count",
    "q_bloom_audit",
    "q_pca_power",
    "q_survival_km",
    "q_cohens_kappa",
    "q_graph_assortativity",
    "q_powerlaw_alpha",
    "q_kendall_rankings",
    "q_bom_explosion",
    "q_components_user_chains",
    "q_dedup_embedding",
    "q_knn_loo_eval",
]


@pytest.mark.parametrize("name", CHECKPOINTING)
def test_release_frees_query_checkpoints(spark, name):
    def persisted():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    release_pinned_indexes()  # drain pins from earlier tests
    before = persisted()
    QUERIES[name].fn(spark, SF_SMOKE).collect()
    assert release_pinned_indexes() >= 1
    assert persisted() == before
