"""Partitioning-independence regression tests.

`scripts/determinism_sweep.py` proves the full registry's results are
functions of the data, not of the physical partitioning (207/207 at
sf0.01 and sf0.1). That sweep is an offline tool; this test pins the
property in the suite for the registered queries whose SHAPE carries the
highest tie risk — top-k limits, per-group ranks, greedy selection,
hash-free sampling, first/last elections — so a future edit that breaks
a total ordering (e.g. dropping a unique tiebreaker from a window's
ORDER BY) fails CI instead of flaking once a round in the driver.

Regime B forces different scan splits (256 KiB maxPartitionBytes), a
different shuffle width (7), and a different AQE advisory size; every
perturbation is runtime-settable and restored afterwards.
"""

from __future__ import annotations

import pytest

from masd_spark import session as masd_session
from masd_spark.queries import load_all

from oracle import _normalize

SF = "/root/testdata/sf0.01"

# (conf, baseline regime, perturbed regime)
REGIMES = [
    ("spark.sql.shuffle.partitions", "32", "7"),
    ("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024), str(256 * 1024)),
    ("spark.sql.files.openCostInBytes", str(4 * 1024 * 1024), "0"),
    ("spark.sql.adaptive.advisoryPartitionSizeInBytes", "67108864", "1048576"),
]

# Highest-tie-risk shapes, one per family of ordering discipline.
TIE_RISK_QUERIES = [
    "orderby_limit_top_orders",  # global ORDER BY ... LIMIT
    "lateral_topk_customers",  # per-group WindowGroupLimit top-k
    "ann_mmr_rerank",  # greedy argmax selection loop
    "sample_weighted_es",  # weighted sampling via TakeOrdered
    "dedup_survivorship",  # first_value canonical election
    "agg_ordered_set_profile",  # listagg WITHIN GROUP + mode
    "histogram_equidepth_deciles",  # ntile over a total order
    "ts_ohlc_hourly_bars",  # first/last over row_number passes
]


def _run(spark, spec, col: int):
    saved = dict(masd_session.RUNTIME_CONFS)
    before = {c: spark.conf.get(c, None) for c, _, _ in REGIMES}
    try:
        for conf, a, b in REGIMES:
            value = (a, b)[col]
            masd_session.RUNTIME_CONFS[conf] = value
            spark.conf.set(conf, value)
        df = spec.fn(spark, SF)
        # the regime must have reached the query: ensure_io_confs derives
        # the shuffle width, and only the RUNTIME_CONFS entry overrides it
        width = spark.conf.get("spark.sql.shuffle.partitions")
        assert width == REGIMES[0][1 + col], (spec.name, width)
        return _normalize(df.columns, [tuple(r) for r in df.collect()])
    finally:
        masd_session.RUNTIME_CONFS.clear()
        masd_session.RUNTIME_CONFS.update(saved)
        for conf, old in before.items():
            if old is not None:
                spark.conf.set(conf, old)
            else:
                spark.conf.unset(conf)


@pytest.mark.parametrize("name", TIE_RISK_QUERIES)
def test_result_is_partitioning_independent(spark, name):
    spec = load_all()[name]
    cols_a, rows_a = _run(spark, spec, 0)
    cols_b, rows_b = _run(spark, spec, 1)
    assert cols_a == cols_b
    assert rows_a == rows_b, (
        f"{name}: result moved when the partitioning moved "
        f"(only-A: {list(set(rows_a) - set(rows_b))[:3]}, "
        f"only-B: {list(set(rows_b) - set(rows_a))[:3]})"
    )
