"""One cold pass over perfbench's batch mix at $SPARK_GRAFT_SF_DIR
(default: the sf0.1 test fixture), printed as ONE JSON line:
{"metric": ..., "value": <total sec>, "unit": "sec",
 "queries": {name: sec, ...}, "sf": <float>}.

The queries are perfbench's ``SENSOR_BATCH_MIX + LLM_MIX``
(perfbench/workloads.py), so the benchmarked list lives in one place.
Each query is built and forced with the noop sink inside its timed window
(full computation, no driver collect); a warm-up action first absorbs
session start-up. perfbench (BENCHMARK.json) is the gated benchmark; this
runner is the driver contract's one-line summary.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent / "perfbench"))

from workloads import LLM_MIX, SENSOR_BATCH_MIX  # noqa: E402


def run(spark, sf_dir: str) -> dict:
    """Time one pass over the mix on ``spark``; return the JSON line's dict."""
    from masd_spark.queries import load_all

    registry = load_all()
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    queries: dict[str, float] = {}
    for name in SENSOR_BATCH_MIX + LLM_MIX:
        t0 = time.perf_counter()
        df = registry[name].fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        queries[name] = round(time.perf_counter() - t0, 3)
    try:
        sf = float(Path(sf_dir).name.replace("sf", ""))
    except ValueError:
        sf = -1.0
    return {
        "metric": "sum of batch-mix query wall-times (one cold pass, noop sink)",
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "queries": queries,
        "sf": sf,
    }


def main() -> None:
    sf_dir = os.getenv("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from masd_spark.session import get_spark

    spark = get_spark(app_name="masd-bench")
    try:
        out = run(spark, sf_dir)
    finally:
        spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
