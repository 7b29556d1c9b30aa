"""Partitioning-independence sweep: every registered query, two regimes.

The parity sweeps prove Spark == DuckDB at fixed scale factors; this tool
proves a different property the oracle cannot see: the Spark result is a
FUNCTION OF THE DATA, not of the physical partitioning. Each query runs
twice in one session under deliberately different planning regimes —

  regime A (baseline):  shuffle.partitions=32 (explicit, not the session's
                        derived default), default scan splits, AQE on
  regime B (perturbed): shuffle.partitions=7, 256 KiB scan splits (many
                        small input partitions => different row order
                        everywhere), openCostInBytes=0

— and the two results must match as order-insensitive multisets, exactly
(same canonicalization as the DuckDB oracle: tests/oracle.py). Any query
whose output depends on partition count, scan-split boundaries, ties broken
by arrival order, or float summation order fails here even when both runs
would individually hash-match a lenient oracle.

This is the registry-wide generalization of the per-query
"repartition-determinism" tests: at 1000 executors the partitioning is
never the one we tested on, so a result that moves when the partitioning
moves is a wrong-at-scale result.

The six stream twins start through ``start_keyed_sink``, whose state
stage is always ``session.state_partitions`` wide, so the shuffle-width
regime does not reach their state; the scan-split regimes still do. Two
tests pin a stream twin's independence from its state-partition count,
both against the batch twin: ``test_default_keyed_sink_matches_batch_twin``
(1 state partition) and ``test_keyed_sink_restarts_old_partition_checkpoint``
(a checkpoint made at ``defaultParallelism``), in tests/test_streaming.py.

Usage:
    python scripts/determinism_sweep.py [sf_dir] [--only substr]

Prints one line per query (PASS/FAIL + wall seconds) and a final summary
``DETSWEEP {"sf_dir":..., "pass": N, "fail": [...]}``. Exit 1 on failure.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
for p in (str(REPO), str(REPO / "tests")):
    if p not in sys.path:
        sys.path.insert(0, p)

# (conf, regime A, regime B). Everything here is runtime-settable.
REGIMES: list[tuple[str, str, str]] = [
    ("spark.sql.shuffle.partitions", "32", "7"),
    ("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024), str(256 * 1024)),
    ("spark.sql.files.openCostInBytes", str(4 * 1024 * 1024), "0"),
    # Different advisory size changes AQE's coalesced partitioning too.
    ("spark.sql.adaptive.advisoryPartitionSizeInBytes", "67108864", "1048576"),
    # Regime B additionally disables AQE outright: no runtime coalescing,
    # no skew-join splitting, static shuffle widths — a maximally
    # different physical plan for the same logical query.
    ("spark.sql.adaptive.enabled", "true", "false"),
]


def _run_with_regime(spark, spec, sf_dir, col: int):
    """Run one query under regime A (col=1) or B (col=2).

    ``register()`` re-runs ``ensure_io_confs`` at the top of every query
    call: it re-derives shuffle.partitions from ``defaultParallelism`` and
    re-asserts RUNTIME_CONFS (AQE settings, openCostInBytes), which would
    silently undo a plain ``spark.conf.set`` override — so the regime is
    written into the RUNTIME_CONFS dict itself for the duration of the
    run, then restored. A key in that dict wins over the derived value.
    """
    from oracle import _normalize

    from masd_spark import session as masd_session

    saved = dict(masd_session.RUNTIME_CONFS)
    # capture live session values too: regime confs absent from
    # RUNTIME_CONFS (maxPartitionBytes, openCostInBytes) must be UNSET on
    # exit, not left at regime-B values for the rest of the session
    saved_live = {conf: spark.conf.get(conf, None) for conf, _, _ in REGIMES}
    try:
        for conf, a, b in REGIMES:
            value = (a, b)[col - 1]
            masd_session.RUNTIME_CONFS[conf] = value
            spark.conf.set(conf, value)
        df = spec.fn(spark, sf_dir)
        # the regime must have reached the query: ensure_io_confs derives
        # the shuffle width, and only the RUNTIME_CONFS entry overrides it
        width = spark.conf.get("spark.sql.shuffle.partitions")
        if width != REGIMES[0][col]:
            raise AssertionError(f"shuffle width {width} under regime {'AB'[col - 1]}")
        cols = df.columns
        rows = [tuple(r) for r in df.collect()]
        return _normalize(cols, rows)
    finally:
        masd_session.RUNTIME_CONFS.clear()
        masd_session.RUNTIME_CONFS.update(saved)
        for conf, _, _ in REGIMES:
            prior = saved_live[conf]
            if prior is None:
                spark.conf.unset(conf)
            else:
                spark.conf.set(conf, prior)


def main() -> int:
    argv = sys.argv[1:]
    only = None
    args = []
    i = 0
    while i < len(argv):
        if argv[i] == "--only":
            only = argv[i + 1]
            i += 2
        else:
            args.append(argv[i])
            i += 1
    sf_dir = args[0] if args else "/root/testdata/sf0.01"

    from masd_spark.queries import load_all
    from masd_spark.session import get_spark

    spark = get_spark(app_name="masd-determinism-sweep")
    registry = load_all()
    names = [n for n in registry if only is None or only in n]

    passed, failed = 0, []
    for idx, name in enumerate(names, 1):
        spec = registry[name]
        t0 = time.time()
        try:
            names_a, rows_a = _run_with_regime(spark, spec, sf_dir, 1)
            names_b, rows_b = _run_with_regime(spark, spec, sf_dir, 2)
            if names_a != names_b:
                raise AssertionError(f"column drift {names_a} vs {names_b}")
            if len(rows_a) != len(rows_b):
                raise AssertionError(
                    f"row count {len(rows_a)} vs {len(rows_b)} across regimes"
                )
            if rows_a != rows_b:
                sa, sb = set(rows_a), set(rows_b)
                raise AssertionError(
                    f"value drift across regimes\n  only-A: {list(sa - sb)[:3]}"
                    f"\n  only-B: {list(sb - sa)[:3]}"
                )
            passed += 1
            print(f"[{idx}/{len(names)}] PASS {name} ({time.time() - t0:.1f}s)")
        except Exception as e:  # noqa: BLE001 — report and continue
            failed.append(name)
            msg = str(e).splitlines()[0][:300]
            print(f"[{idx}/{len(names)}] FAIL {name} ({time.time() - t0:.1f}s): {msg}")
        sys.stdout.flush()

    print("DETSWEEP " + json.dumps({"sf_dir": sf_dir, "pass": passed, "fail": failed}))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
