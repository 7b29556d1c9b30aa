"""Distributed-execution smoke: real multi-process shuffle (VERDICT r4 item 5).

Everything else in the suite runs ``local[N]`` — one JVM, where shuffle is
an in-process memory copy and task serialization never crosses a process
boundary. This module runs the nine LOCAL_CLUSTER_QUERIES plus one
transformWithStateInPandas streaming flow under ``local-cluster[2,4,4096]``
(the in-sandbox analogue of the reference's YARN 3x2-core topology,
/root/reference/compose/spark.yml:46-54): a real Master, two Worker JVMs,
executor-side Python workers, network shuffle, and closure/Arrow
serialization over the wire.

The cluster session lives in a subprocess: pyspark's JVM singleton would
otherwise collide with the session-scoped local[8] fixture.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

# The sensor rollup plus the batch companions' core operators, pinned as
# a list: TPC-H aggregate and joins, sessionize, the as-of join, n-gram
# and MinHash dedup, cosine top-k.
LOCAL_CLUSTER_QUERIES = (
    "masd_sensor_rollup",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_nation_revenue",
    "sessionize_events",
    "asof_join_purchases",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "ann_cosine_topk",
)

_SCRIPT = r"""
import json, sys, tempfile
from pathlib import Path

sys.path.insert(0, "/root/repo")
sys.path.insert(0, "/root/repo/tests")

from masd_spark.session import get_spark
from masd_spark.vendor import ensure_protobuf, ensure_protobuf_on_session

# Resolve the protobuf shim into PYTHONPATH BEFORE composing executorEnv:
# spark.executorEnv.PYTHONPATH overrides env inheritance, so it must carry
# the shim dir itself or executor Python workers lose google.protobuf.
ensure_protobuf()
spark = get_spark(
    app_name="lc-smoke",
    master="local-cluster[2,4,4096]",
    driver_memory="4g",
    extra_confs={
        "spark.sql.warehouse.dir": tempfile.mkdtemp(prefix="lc_warehouse_"),
        # executor JVMs are child processes and inherit our env, but be
        # explicit: executor-side Python workers must import masd_spark
        "spark.executorEnv.PYTHONPATH": ":".join(
            p for p in ["/root/repo", __import__("os").environ.get("PYTHONPATH", "")] if p
        ),
    },
)
# Cluster-safe route as well: ships the shim zip via addPyFile.
ensure_protobuf_on_session(spark)

# Force executor registration before measuring topology.
spark.range(1000).selectExpr("id % 7 k").groupBy("k").count().count()
n_block_managers = spark.sparkContext._jsc.sc().getExecutorMemoryStatus().size()

from masd_spark.queries import load_all
from oracle import compare_query

REG = load_all()
SF = "/root/testdata/sf0.01"
headline_ok, headline_fail = [], []
for name in json.loads(sys.argv[1]):
    spec = REG[name]
    try:
        if spec.oracle is not None:
            compare_query(spark, spec, SF)
        else:
            assert spec.fn(spark, SF).count() >= 0
        headline_ok.append(name)
    except Exception as exc:  # noqa: BLE001
        headline_fail.append([name, repr(exc)[:300]])

# TWS MapState heavy hitters through real executor-side state servers.
tws_ok, tws_err = False, None
try:
    from test_streaming import _run_heavy_hitters

    # the helper runs under the RocksDB provider (TWS state uses multiple
    # column families; HDFS-backed raises UNSUPPORTED_FEATURE), same as the
    # local[8] test; under local-cluster the stores live on executors.
    tmp = Path(tempfile.mkdtemp(prefix="lc_tws_"))
    last, expected = _run_heavy_hitters(spark, tmp)
    assert last == expected, f"TWS mismatch: {last} != {expected}"
    tws_ok = True
except Exception as exc:  # noqa: BLE001
    tws_err = repr(exc)[:500]

print(
    "LCRESULT " + json.dumps(
        {
            "block_managers": n_block_managers,
            "default_parallelism": spark.sparkContext.defaultParallelism,
            "headline_ok": headline_ok,
            "headline_fail": headline_fail,
            "tws_ok": tws_ok,
            "tws_err": tws_err,
        }
    )
)
spark.stop()
"""


# The last 50-query window the external correctness harness verified,
# pinned as a list: ANN/cluster, multimodal, TPC-H, layout, graph,
# sketches, time series, text, sampling, streaming and dedup.
WINDOW_QUERIES = (
    "masd_sensor_rollup",
    "ann_cosine_topk",
    "ann_ivf_topk",
    "ann_ivf_persisted_topk",
    "cluster_kmeans_embeddings",
    "ann_lsh_topk",
    "ann_quantized_topk",
    "emb_pca_top_component",
    "ann_pq_topk",
    "ann_ivfpq_topk",
    "ann_pq_persisted_topk",
    "ann_mmr_rerank",
    "cluster_kmeans_embeddings_exact",
    "ann_ivf_exact_refined_topk",
    "ann_ivf_refined_topk",
    "emb_pca_power_iteration",
    "multimodal_frame_sample",
    "multimodal_resize",
    "multimodal_byte_features",
    "q11_important_stock",
    "q15_top_supplier",
    "layout_range_pruned_scan",
    "layout_zorder_pruned_scan",
    "stat_theil_sen_trend",
    "graph_triangle_counts_deg",
    "graph_bfs_distances",
    "graph_kcore_parts",
    "graph_label_propagation",
    "graph_pagerank_trade_exact",
    "graph_pagerank_trade",
    "sketch_mg_heavy_users",
    "ts_cusum_changepoints",
    "ts_autocorrelation",
    "text_language_id",
    "text_simhash",
    "text_bm25_search",
    "text_rrf_hybrid_search",
    "corpus_mixture_report",
    "pipeline_llm_dataprep",
    "pipeline_dsir_importance",
    "sample_stratified_lang",
    "sample_upsample_mixture",
    "chunk_documents_udtf",
    "streaming_masd_rollup",
    "streaming_heavy_hitters",
    "streaming_dedup_ingest",
    "streaming_timer_sessions",
    "streaming_sensor_ewma",
    "streaming_interval_join",
    "dedup_ngram_jaccard",
)

_WINDOW_SCRIPT = r"""
import json, sys, tempfile
sys.path.insert(0, "/root/repo")
sys.path.insert(0, "/root/repo/tests")

from masd_spark.session import get_spark
from masd_spark.vendor import ensure_protobuf

ensure_protobuf()
spark = get_spark(
    app_name="lc-window",
    master="local-cluster[2,4,4096]",
    driver_memory="4g",
    extra_confs={
        "spark.sql.warehouse.dir": tempfile.mkdtemp(prefix="lc_warehouse_"),
        "spark.executorEnv.PYTHONPATH": ":".join(
            p for p in ["/root/repo", __import__("os").environ.get("PYTHONPATH", "")] if p
        ),
    },
)
spark.range(1000).selectExpr("id % 7 k").groupBy("k").count().count()

from masd_spark.queries import load_all
from oracle import compare_query

REG = load_all()
SF = "/root/testdata/sf0.01"
ok, fail = [], []
for name in json.loads(sys.argv[1]):
    spec = REG[name]
    try:
        if spec.oracle is not None:
            compare_query(spark, spec, SF)
        else:
            assert spec.fn(spark, SF).count() >= 0
        ok.append(name)
    except Exception as exc:  # noqa: BLE001
        fail.append([name, repr(exc)[:300]])
print("LCRESULT " + json.dumps({"ok": len(ok), "fail": fail}))
spark.stop()
"""


def test_local_cluster_driver_window():
    """Every WINDOW_QUERIES entry value-checked against DuckDB under real
    multi-process execution. Anything that silently depended on single-JVM
    locality (driver-side state, lineage through Python objects,
    partitioning assumptions) fails here."""
    env = dict(os.environ)
    env["PYTHONPATH"] = f"{REPO}:{env.get('PYTHONPATH', '')}".rstrip(":")
    proc = subprocess.run(
        [sys.executable, "-c", _WINDOW_SCRIPT, json.dumps(WINDOW_QUERIES)],
        capture_output=True,
        text=True,
        # 540s fit an idle box but flaked inside a full-suite run (r8:
        # 376s isolated, >540s after 30 min of suite-induced page-cache
        # pressure). The timeout guards against a HUNG subprocess, not
        # a slow window — size it for the contended case.
        timeout=1200,
        env=env,
        cwd=str(REPO),
    )
    # marker may share a line with a stray \r-progress fragment; split on
    # the marker itself rather than requiring it at line start
    lines = [l[l.find("LCRESULT "):] for l in proc.stdout.splitlines() if "LCRESULT " in l]
    assert lines, f"no result line\nstdout:{proc.stdout[-2000:]}\nstderr:{proc.stderr[-3000:]}"
    res = json.loads(lines[-1][len("LCRESULT "):])
    assert not res["fail"], res["fail"]
    assert res["ok"] == len(WINDOW_QUERIES)


def test_local_cluster_smoke():
    env = dict(os.environ)
    env["PYTHONPATH"] = f"{REPO}:{env.get('PYTHONPATH', '')}".rstrip(":")
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT, json.dumps(LOCAL_CLUSTER_QUERIES)],
        capture_output=True,
        text=True,
        timeout=540,
        env=env,
        cwd=str(REPO),
    )
    # marker may share a line with a stray \r-progress fragment; split on
    # the marker itself rather than requiring it at line start
    lines = [l[l.find("LCRESULT "):] for l in proc.stdout.splitlines() if "LCRESULT " in l]
    assert lines, f"no result line\nstdout:{proc.stdout[-2000:]}\nstderr:{proc.stderr[-3000:]}"
    res = json.loads(lines[-1][len("LCRESULT "):])
    # driver + 2 executor block managers => genuinely multi-process
    assert res["block_managers"] >= 3, res
    assert res["default_parallelism"] == 8, res
    assert not res["headline_fail"], res["headline_fail"]
    assert len(res["headline_ok"]) == 9, res["headline_ok"]
    assert res["tws_ok"], res["tws_err"]
