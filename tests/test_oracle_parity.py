"""Every oracled query must match its DuckDB twin — the same gate the
driver applies at sf0.01, run here at sf0.001 for speed.

Opt-in tier (VERDICT r16 next #2): the 249-pair sweep costs ~17 min
and pushed the default suite past the driver's verify budget. Run it
with `pytest -m slow`; the stronger sf0.01 twin is
scripts/driver_sim.py and the driver's own CORRECTNESS gate covers
the checked window every round. The default tier keeps a parity
smoke (``SMOKE``) over the model-building queries."""

from __future__ import annotations

import pytest

from udacitycapstonedataengineer_spark.plans.queries import ORACLE, QUERIES

from .oracle_check import assert_parity

# the IVF-PQ and SemDeDup queries reached by the trainers
# (kmeans_fit, ivfpq_build, ivfpq_coarse_fit) and the literal-model
# helpers in operators/clustering.py
SMOKE = (
    "ann_topk_ivfpq",
    "semdedup_survivors",
    "ivfpq_index_drift",
    "ivfpq_rebuild_decision",
    "ann_ivfpq_recall_curve",
)


@pytest.mark.parametrize("name", SMOKE)
def test_oracle_parity_smoke(spark, sf_dir, name):
    assert_parity(spark, name, sf_dir)


@pytest.mark.slow
@pytest.mark.parametrize("name", sorted(ORACLE))
def test_oracle_parity(spark, sf_dir, name):
    assert_parity(spark, name, sf_dir)


# queries allowed to return zero rows at sf0.001 (tiny-scale artifacts
# of genuinely selective predicates — each verified non-degenerate at
# sf0.01 by the driver gate). Keep this list EXPLICIT: an un-oracled
# query silently regressing to empty output is the degenerate-result
# trap (empty results trivially hash-match).
EMPTY_OK_AT_SF0001: set[str] = set()


@pytest.mark.slow
def test_every_query_runs(spark, sf_dir):
    """Every query must execute AND return rows — count() >= 0 can
    never fail, so the non-empty assertion is the real check."""
    for name, fn in QUERIES.items():
        df = fn(spark, sf_dir)
        n = df.count()
        if name in EMPTY_OK_AT_SF0001:
            continue
        assert n > 0, f"{name} returned 0 rows (degenerate result?)"
