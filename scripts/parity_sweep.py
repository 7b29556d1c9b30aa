"""Full-registry DuckDB parity sweep at an arbitrary scale factor.

The driver's correctness gate and the pytest suite both compare at
sf0.01; this tool re-runs EVERY oracled registered query against its
DuckDB twin at a larger SF (default sf0.1, 10x the gate) to catch
bugs that only appear with more data — caps binding differently,
overflow, skew-path behavior, window frames straddling more rows.

Usage:
    python scripts/parity_sweep.py [sf_dir] [--only a,b] [--skip a,b] [--master url]

``--only``/``--skip`` take comma-separated substrings of query names.

``--master local-cluster[2,4,4096]`` runs the whole sweep under a real
Master + two Worker JVMs (network shuffle, executor-side Python
workers), turning the single-JVM parity evidence into distributed
parity evidence for every oracled query.

Prints one line per query (PASS/FAIL + wall seconds) and a final
summary line ``SWEEP {"sf_dir":..., "pass": N, "fail": [...]}``.
Exit code 1 on any failure.
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


def main() -> int:
    argv = sys.argv[1:]
    flags = {"--only": None, "--skip": None, "--master": None}
    args = []
    i = 0
    while i < len(argv):
        a = argv[i]
        if a in flags:
            if i + 1 >= len(argv):
                print(f"error: {a} requires a value", file=sys.stderr)
                return 2
            flags[a] = argv[i + 1]
            i += 2
        elif a.startswith("--"):
            print(f"error: unknown flag {a}", file=sys.stderr)
            return 2
        else:
            args.append(a)
            i += 1
    only, skip, master = flags["--only"], flags["--skip"], flags["--master"]
    sf_dir = args[0] if args else "/root/testdata/sf0.1"

    from masd_spark.queries import load_all
    from masd_spark.session import get_spark
    from oracle import compare_query

    extra_confs = {}
    if master and master.startswith("local-cluster"):
        # Same trap as tests/test_local_cluster.py: executorEnv.PYTHONPATH
        # OVERRIDES env inheritance, so compose it AFTER resolving the
        # protobuf shim dir.
        import os
        import tempfile

        from masd_spark.vendor import ensure_protobuf

        ensure_protobuf()
        extra_confs = {
            "spark.sql.warehouse.dir": tempfile.mkdtemp(prefix="sweep_wh_"),
            "spark.executorEnv.PYTHONPATH": ":".join(
                p
                for p in [str(REPO), os.environ.get("PYTHONPATH", "")]
                if p
            ),
        }
    spark = get_spark(
        app_name="parity-sweep",
        master=master,
        extra_confs=extra_confs,
    )
    reg = load_all()
    names = [n for n, s in reg.items() if s.oracle is not None]
    if only:
        subs = [s for s in only.split(",") if s]
        names = [n for n in names if any(s in n for s in subs)]
    if skip:
        subs = [s for s in skip.split(",") if s]
        names = [n for n in names if not any(s in n for s in subs)]

    passed, failed = [], []
    for i, name in enumerate(names):
        t0 = time.monotonic()
        try:
            compare_query(spark, reg[name], sf_dir)
            dt = time.monotonic() - t0
            passed.append(name)
            print(f"[{i + 1}/{len(names)}] PASS {name} ({dt:.1f}s)", flush=True)
        except Exception as exc:  # noqa: BLE001
            dt = time.monotonic() - t0
            failed.append([name, repr(exc)[:400]])
            print(f"[{i + 1}/{len(names)}] FAIL {name} ({dt:.1f}s): {exc!r}"[:600], flush=True)
    print(
        "SWEEP "
        + json.dumps(
            {
                "sf_dir": sf_dir,
                "master": spark.sparkContext.master,
                "pass": len(passed),
                "fail": failed,
            }
        )
    )
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
