"""One-time FULL-registry SF1 parity sweep -> SF1FULL_r{N}.json.

VERDICT r7 item 4: the standing SF1 sweep (sf1_sweep.py) covers the 18
cap-sensitive queries; every OTHER oracled query's largest committed
parity evidence is sf0.1. This tool runs the DuckDB value comparison for
ALL oracled registered queries at SF1 (~10x that), closing the gap in
one committed artifact.

Serial execution is infeasible: the opaque ANN/cluster/graph families'
oracles REBUILD the whole index / iteration in SQL (measured:
ann_ivf_persisted_topk alone 625s at SF1), and a single process runs the
registry in ~10h. Since the artifact records PARITY (pass/fail), not
timing, the sweep shards the name list round-robin across N worker
processes (parity_sweep.py --exact --only), each with its own Spark
session and a thread-capped DuckDB (MASD_ORACLE_THREADS) so shards don't
thrash each other. Round-robin interleaving spreads the expensive
families, which register next to each other, evenly.
Per-query seconds are recorded for triage but are CONTENDED numbers —
SF1SWEEP / SF10PROBE own the quiet-host timing claims.

Skips (documented in the artifact, with their standing evidence):
- dedup_ngram_jaccard / _uncapped / dedup_containment_pairs: exact
  sum(df^2) pair joins; dedup_ngram_jaccard + dedup_containment_pairs
  already carry SF1 parity in SF1SWEEP_r07 (238s/190s-class runs);
  the registered scale paths are the `_scaled` screens swept there.

Usage:
    python scripts/sf1_full_sweep.py [sf_dir] [round_no] [--shards N]
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

SKIP_EXACT = {
    "dedup_ngram_jaccard": "exact sum(df^2) pair join; SF1 parity in SF1SWEEP_r07",
    "dedup_ngram_jaccard_uncapped": "same exact-join class, uncapped ground truth",
    "dedup_containment_pairs": "exact sum(df^2) pair join; SF1 parity in SF1SWEEP_r07",
}

LINE = re.compile(r"\[\d+/\d+\] (PASS|FAIL) (\S+) \((\d+\.\d)s\)(?:: (.*))?")


def main() -> int:
    argv = sys.argv[1:]
    shards = 6
    args = []
    i = 0
    while i < len(argv):
        if argv[i] == "--shards":
            shards = int(argv[i + 1])
            i += 2
        else:
            args.append(argv[i])
            i += 1
    sf_dir = args[0] if args else "/tmp/masd_sf1"
    rnd = int(args[1]) if len(args) > 1 else 8

    sys.path.insert(0, str(REPO))
    from masd_spark.queries import load_all

    reg = load_all()
    names = [
        n for n, s in reg.items() if s.oracle is not None and n not in SKIP_EXACT
    ]
    lists = [names[i::shards] for i in range(shards)]

    env = dict(os.environ)
    # Per-shard resource caps: N Spark drivers + N DuckDBs share the host.
    env.setdefault("MASD_DRIVER_MEMORY", "10g")
    env.setdefault("MASD_ORACLE_THREADS", str(max(2, 32 // shards)))

    t0 = time.monotonic()
    procs = []
    for k, shard in enumerate(lists):
        log = open(f"/tmp/sf1full_shard{k}.log", "w")
        procs.append(
            (
                subprocess.Popen(
                    [
                        sys.executable,
                        str(REPO / "scripts" / "parity_sweep.py"),
                        sf_dir,
                        "--exact",
                        "--only",
                        ",".join(shard),
                    ],
                    stdout=log,
                    stderr=subprocess.STDOUT,
                    env=env,
                ),
                log,
                k,
            )
        )
        print(f"shard {k}: {len(shard)} queries, pid {procs[-1][0].pid}", flush=True)

    queries: dict[str, dict] = {}
    failed: list[list[str]] = []
    for proc, log, k in procs:
        rc = proc.wait()
        log.close()
        text = open(f"/tmp/sf1full_shard{k}.log", errors="replace").read()
        seen = 0
        for m in LINE.finditer(text):
            status, name, secs, err = m.groups()
            row = {"status": status, "sec": float(secs), "shard": k}
            if err:
                row["error"] = err[:400]
                failed.append([name, err[:400]])
            queries[name] = row
            seen += 1
        print(f"shard {k} done rc={rc}: {seen} results", flush=True)

    missing = [n for n in names if n not in queries]
    for n in missing:
        failed.append([n, "no result line (shard crashed before reaching it)"])
    out = {
        "round": rnd,
        "sf_dir": sf_dir,
        "registry_total": len(reg),
        "oracled_total": len(names) + len(SKIP_EXACT),
        "swept": len(names),
        "shards": shards,
        "method": (
            "full-registry DuckDB value comparison (tests/oracle.py:"
            "compare_query — rows + schema + order-insensitive canonical "
            "values) at SF1, sharded round-robin across "
            f"{shards} parity_sweep.py --exact processes (own Spark "
            "session each, DuckDB thread-capped). Per-query seconds are "
            "CONTENDED wall times for triage only; quiet-host timing "
            "evidence lives in SF1SWEEP/SF10PROBE."
        ),
        "skipped": SKIP_EXACT,
        "wall_sec": round(time.monotonic() - t0, 1),
        "pass": sum(1 for r in queries.values() if r["status"] == "PASS"),
        "fail": failed,
        "missing": missing,
        "queries": queries,
    }
    artifact = REPO / f"SF1FULL_r{rnd:02d}.json"
    artifact.write_text(json.dumps(out, indent=1) + "\n")
    print(
        "SWEEP "
        + json.dumps({"artifact": str(artifact), "pass": out["pass"], "fail": len(failed)})
    )
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
