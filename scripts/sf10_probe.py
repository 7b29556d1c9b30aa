"""Targeted SF10 probe (100x the driver's correctness gate, 10x the SF1
sweep) -> committed SF10PROBE_r{N}.json artifact.

Answers "would it survive ANOTHER 10x?" with measurements instead of
design notes, one scale decade above SF1SWEEP. Two tiers:

- PARITY queries: full DuckDB value comparison at SF10 (the four SF1
  bug-fix regression classes + flagship + the two sketch error-contract
  queries — all cheap enough for DuckDB at 60M lineitem / 10M events).
- TIMING queries: Spark-only wall-time at SF1 vs SF10 (warm, noop sink)
  with scale ratios — the scaled dedup family and the persisted ANN
  probes, whose DuckDB twins are too heavy at this scale but whose
  SCALING is the thing to measure.

Documented exclusions (no silent caps): the exact k-gram pair joins
(`dedup_ngram_jaccard*`, `dedup_containment_pairs`) — their candidate
volume is sum(df^2), the known cost of EXACT pairwise dedup on a
saturated vocabulary; the registered scale paths ARE the screens
(minhash/simhash) and the k-sized variants measured here. And
`ann_cosine_topk`, the quadratic-by-design ground truth.

Usage: python scripts/sf10_probe.py [round_no] [--fixture DIR]
(The fixture is built by applying scripts/make_sf1_fixture.py to the
SF1 fixture: `python scripts/make_sf1_fixture.py /tmp/masd_sf1
/tmp/masd_sf10` — deterministic both hops.)
"""

from __future__ import annotations

import json
import re
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
for p in (str(REPO), str(REPO / "tests"), str(REPO / "scripts")):
    if p not in sys.path:
        sys.path.insert(0, p)

PARITY = [
    "masd_sensor_rollup",
    "q1_pricing_summary",
    "ts_ohlc_hourly_bars",
    "bloom_semi_join_lineitem",
    "clean_winsorize_values",
    "sketch_hll_error_bound",
    "sessionize_events",
    "asof_join_purchases",
    "pipeline_dsir_importance",
]
TIMING = [
    "dedup_minhash_lsh_scaled",
    "dedup_containment_scaled",
    "dedup_span_extract",
    "ann_ivf_persisted_topk",
    "ann_pq_persisted_topk",
    "ann_ivfpq_persisted_topk",
]
# Per-row-output queries whose results can't be collected at probe
# scale: compare via the canonical-row hash reduction instead
# (tests/oracle.py:hash_compare_query — agreement with the collect
# comparator pinned in tests/test_hash_parity.py).
HASH_PARITY = {
    "clean_winsorize_values",
    "sessionize_events",
    "asof_join_purchases",
    "masd_sensor_rollup",
}


def _next_round(prefix: str) -> int:
    """One past the newest committed {prefix}_r{N}.json."""
    rounds = [0]
    for p in REPO.glob(f"{prefix}_r*.json"):
        m = re.fullmatch(rf"{re.escape(prefix)}_r(\d+)\.json", p.name)
        if m:
            rounds.append(int(m.group(1)))
    return max(rounds) + 1


def _timed(spark, spec, sf_dir: str, runs: int = 2) -> float:
    times = []
    for _ in range(runs):
        t0 = time.monotonic()
        spec.fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        times.append(time.monotonic() - t0)
    return round(min(times), 2)


def main() -> int:
    argv = sys.argv[1:]
    fixture = "/tmp/masd_sf10"
    base = "/tmp/masd_sf1"
    prefix = "SF10PROBE"
    skip: set[str] = set()
    parity = list(PARITY)
    timing = list(TIMING)
    hash_parity = set(HASH_PARITY)
    rnd = None
    confs: dict[str, str] = {}
    i = 0
    while i < len(argv):
        if argv[i] == "--fixture":
            fixture = argv[i + 1]
            i += 2
        elif argv[i] == "--base":
            base = argv[i + 1]
            i += 2
        elif argv[i] == "--out-prefix":
            prefix = argv[i + 1]
            i += 2
        elif argv[i] == "--skip":
            skip = {s for s in argv[i + 1].split(",") if s}
            i += 2
        elif argv[i] == "--parity":
            # REPLACE the parity tier (comma list) — lets one probe run
            # target a different query family (e.g. the SF100 join/window
            # extension) without editing the defaults.
            parity = [s for s in argv[i + 1].split(",") if s]
            i += 2
        elif argv[i] == "--timing":
            timing = [s for s in argv[i + 1].split(",") if s]
            i += 2
        elif argv[i] == "--hash-parity":
            # ADD to the hashed-comparator set: per-row-output queries
            # whose results can't be collected at probe scale.
            hash_parity |= {s for s in argv[i + 1].split(",") if s}
            i += 2
        elif argv[i] == "--conf":
            # runtime-settable session confs (k=v[,k=v...]). The SF100DOCS
            # probe needs spark.sql.files.maxPartitionBytes lowered: the
            # 5M-doc parquet is ~570MB compressed -> ~5 input splits at
            # the 128MB default, and one split's k-gram explosion (~1M
            # docs * hundreds of shingles) OOMs a single task's block
            # unroll. Smaller splits = more parallelism + bounded blocks,
            # exactly what a real cluster gets from its own split sizing.
            confs.update(
                dict(kv.split("=", 1) for kv in argv[i + 1].split(",") if kv)
            )
            i += 2
        else:
            rnd = int(argv[i])
            i += 1
    if rnd is None:
        rnd = _next_round(prefix)

    from masd_spark.queries import load_all
    from masd_spark.session import get_spark
    from oracle import compare_query, hash_compare_query

    spark = get_spark(app_name="sf10-probe")
    for k, v in confs.items():
        spark.conf.set(k, v)
    spark.sparkContext.setLogLevel("ERROR")
    reg = load_all()
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    out: dict = {
        "round": rnd,
        "sf_dir": fixture,
        "base_dir": base,
        "master": spark.sparkContext.master,
        "data_ratio": 10.0,
        "method": (
            "spark_sf1_sec = min of 2 warm noop-sink runs at base_dir, "
            "spark_sf10_sec = same at sf_dir (bench.py estimator; "
            "memoized intermediates shared as in bench.py); parity_sec "
            "= one Spark+DuckDB value comparison at sf_dir. The ratio "
            "reads 'one more decade above base_dir'."
        ),
        "excluded": {
            "dedup_ngram_jaccard": "exact pair join: sum(df^2) candidate "
            "volume is the known cost of exact pairwise dedup on a "
            "saturated vocabulary; scale paths are the screens below",
            "dedup_containment_pairs": "same exact-join class (k=3)",
            "ann_cosine_topk": "quadratic-by-design ground truth",
            "approx_error_bounds": "its EXACT percentile baseline over "
            "60M rows is deliberately the prohibitive computation the "
            "sketch replaces (measured: one aggregation stage >8 min at "
            "SF10) — the error contract is hash-verified at the sf0.01 "
            "gate and sf0.1; the sketch-side scaling is covered by "
            "sketch_hll_error_bound's SF10 PASS",
            "dedup_simhash_wide": "MEASURED SF10 FINDING, not a skip: at "
            "500k docs on this 31-token synthetic vocabulary the band "
            "join wedges on hot buckets (2 straggler tasks, no progress "
            "in 10 min). Root cause is fingerprint MODAL COLLAPSE, not "
            "band width: each simhash bit is the sign of a token-count "
            "random walk whose MEAN grows ~linearly with doc length on "
            "a low-entropy vocabulary while its stddev grows ~sqrt(n), "
            "so long docs deterministically converge to the same "
            "corpus-modal signs and no fingerprint width can separate "
            "them. On natural-vocabulary corpora (per-bit means ~0) the "
            "documented band-bits >= log2(n_docs)-4 sizing governs; for "
            "THIS corpus shape the scale screens are the k-gram/minhash "
            "family, measured above at ~4-5x on 10x data",
        },
        "queries": {},
    }
    if skip:
        out["skipped_by_flag"] = sorted(skip)
    failed = []
    for name in parity + timing:
        if name in skip:
            continue
        spec = reg[name]
        row: dict = {}
        try:
            row["spark_sf1_sec"] = _timed(spark, spec, base)
            row["spark_sf10_sec"] = _timed(spark, spec, fixture)
            row["scale_ratio"] = (
                round(row["spark_sf10_sec"] / row["spark_sf1_sec"], 1)
                if row["spark_sf1_sec"] > 0
                else None
            )
            if name in parity:
                t0 = time.monotonic()
                if name in hash_parity:
                    out_h = hash_compare_query(spark, spec, fixture)
                    row["parity_rows"] = out_h["rows"]
                    row["parity_method"] = "hash_compare_query"
                else:
                    compare_query(spark, spec, fixture)
                row["parity_sec"] = round(time.monotonic() - t0, 1)
                row["status"] = "PASS"
            else:
                row["rows"] = spec.fn(spark, fixture).count()
                row["status"] = "TIMED"
            print(
                f"[sf10_probe] {row['status']} {name}: SF1 "
                f"{row['spark_sf1_sec']}s -> SF10 {row['spark_sf10_sec']}s "
                f"({row['scale_ratio']}x on 10x data)",
                flush=True,
            )
        except Exception as exc:  # noqa: BLE001
            row["status"] = "FAIL"
            row["error"] = repr(exc)[:400]
            failed.append(name)
            print(f"[sf10_probe] FAIL {name}: {exc!r}"[:600], flush=True)
        out["queries"][name] = row

    out["pass"] = sum(
        1 for r in out["queries"].values() if r["status"] in ("PASS", "TIMED")
    )
    out["fail"] = failed
    artifact = REPO / f"{prefix}_r{rnd:02d}.json"
    artifact.write_text(json.dumps(out, indent=1) + "\n")
    print(f"PROBE {json.dumps({'artifact': str(artifact), 'pass': out['pass'], 'fail': failed})}")
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
