"""The local mirror of the driver's correctness gate: every inventory
entry runs on Spark AND on the DuckDB oracle at sf0.001, values compared
exactly (order-insensitive), on EVERY run. The full registry re-runs at
sf0.01 to catch scale-dependent nondeterminism (summation order,
partitioning) — that sweep is `slow` (r20): it runs in the builder's
round-close SPARK_GRAFT_FULL_SUITE=1 record, not in the driver's
time-budgeted default run."""

from __future__ import annotations

import pytest

from strake_spark import inventory
from tests.conftest import SF_DIR_MID, run_and_compare


def _names():
    return sorted(inventory.REGISTRY)


@pytest.mark.parametrize("name", _names())
def test_inventory_sf0001(spark, name):
    run_and_compare(spark, name)


@pytest.mark.slow
@pytest.mark.parametrize("name", _names())
def test_inventory_sf001(spark, name):
    run_and_compare(spark, name, sf_dir=SF_DIR_MID)


def test_registry_shape():
    assert len(inventory.REGISTRY) >= 5
    for name, spec in inventory.REGISTRY.items():
        assert spec.name == name
        assert callable(spec.fn)
        if spec.oracle is None:
            assert "rows_only" in spec.tags, f"{name}: oracle omitted but not tagged rows_only"


def test_entry_contract():
    import __spark_entry__ as e

    q = e.queries()
    o = e.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) == len(inventory.REGISTRY)


def test_cluster_purity_ties_go_to_null_then_smallest_label(spark):
    from strake_spark.inventory.similarity import _majority_labels

    cnt = spark.createDataFrame(
        [(0, None, 3), (0, 1, 3), (0, 2, 1),   # NULL wins the tie on 3
         (1, 5, 2), (1, 4, 2), (1, None, 1),   # smallest label wins
         (2, 7, 4), (2, None, 1)],             # a plain majority
        "cluster INT, label INT, n BIGINT",
    )
    rows = {r.cluster: r for r in _majority_labels(cnt).collect()}
    assert rows[0].majority_label is None and rows[0].n_members == 7
    assert rows[0].purity == 3 / 7
    assert rows[1].majority_label == 4 and rows[1].n_members == 5
    assert rows[2].majority_label == 7 and rows[2].purity == 0.8


def test_cluster_purity_rejects_a_non_numeric_label(spark):
    from strake_spark.inventory.similarity import _majority_labels

    cnt = spark.createDataFrame([(0, "a", 1)], "cluster INT, label STRING, n BIGINT")
    with pytest.raises(TypeError, match="numeric label"):
        _majority_labels(cnt)
