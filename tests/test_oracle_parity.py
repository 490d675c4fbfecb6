"""Every oracle-checked registry query must hash-match DuckDB at sf0.001 —
the in-repo twin of the driver's CORRECTNESS gate (fast; the driver runs
the same comparison at sf0.01)."""

from __future__ import annotations

import pytest

from etl_master_spark.operators.ranking import frozen_eval_oracle
from etl_master_spark.plans.registry import ORACLES, QUERIES
from oracle_utils import duckdb_connect, compare

SF = "/root/testdata/sf0.001"

# The registry's static oracle strings for the frozen-scores model evals
# name the DRIVER's gate scale (sf0.01); this suite runs at sf0.001, so
# replay the same oracle against the artifacts the query freezes HERE.
# (The Spark query runs first in compare(), so the freeze precedes the read.)
_FROZEN = {
    "als_eval_test": "als_test",
    "cdae_eval_test": "cdae_test",
    "gan_eval_test": "gan_test",
}


def _oracle_for(name: str) -> str:
    if name in _FROZEN:
        return frozen_eval_oracle(_FROZEN[name], sf_name="sf0.001")
    return ORACLES[name]


@pytest.fixture(scope="module")
def con():
    c = duckdb_connect(SF)
    yield c
    c.close()


# the recall audit's DuckDB side unrolls four faces' capped+uncapped
# spellings (~100 s alone); the builder's strict_check replays it at two
# SFs and the full-suite tier keeps it — the fast tier drops just this id
_SLOW_PARITY = {"neardup_topk_recall_audit"}


@pytest.mark.parametrize(
    "name",
    [
        pytest.param(n, marks=pytest.mark.slow) if n in _SLOW_PARITY else n
        for n in sorted(ORACLES)
    ],
)
def test_oracle_parity(spark, con, name):
    problems = compare(QUERIES[name](spark, SF), con, _oracle_for(name))
    assert not problems, problems


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_runs(spark, name):
    df = QUERIES[name](spark, SF)
    assert df.count() >= 0


def _perfbench_gen():
    import importlib.util
    from pathlib import Path

    path = Path(__file__).resolve().parent.parent / "perfbench" / "gen.py"
    spec = importlib.util.spec_from_file_location("perfbench_gen", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


# generated inputs whose top-10 revenue holds a total ending in exactly
# half a cent (13, 33), where a double sum lands a hair either side of it;
# on 78 Spark's ROUND(SUM(double), 2) and DuckDB's differed by one cent
@pytest.mark.parametrize("seed", [13, 33, 78])
def test_shipping_priority_exact_on_generated_inputs(spark, tmp_path, seed):
    from etl_master_spark.operators.relational import SHIPPING_PRIORITY_ORACLE

    _perfbench_gen().write_sf(tmp_path, seed, "sf0.001")
    got = QUERIES["shipping_priority"](spark, str(tmp_path)).toPandas()
    con = duckdb_connect(str(tmp_path))
    try:
        want = con.sql(SHIPPING_PRIORITY_ORACLE).df()
    finally:
        con.close()
    assert list(got.columns) == list(want.columns)
    assert got.to_dict("records") == want.to_dict("records")
