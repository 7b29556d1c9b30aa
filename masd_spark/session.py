"""SparkSession construction and session-level configs.

The reference builds a bare session with only Mongo connector configs
(reference: spark-app/consumer.py:55-64). Our engine pins the configs that
matter for correctness parity (UTC timezone, ns-timestamp handling) and for
scale (AQE, skew-join handling). Partition counts are not pinned: they are
derived from the live session in one place. ``ensure_io_confs`` sizes the
batch counts from ``defaultParallelism``; ``state_partitions`` sizes a new
keyed-sink stream's state store (one partition per executor).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Configs that must hold on ANY session running our queries, including a
# driver-provided session we did not build. All of these are runtime-settable.
RUNTIME_CONFS: dict[str, str] = {
    # fixture `events.ts` is ns-precision parquet; Spark 4 refuses
    # TIMESTAMP(NANOS) columns unless read as raw long (we convert ourselves,
    # see sources/tables.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # DuckDB oracle timestamps are UTC-naive; pin the session to UTC.
    "spark.sql.session.timeZone": "UTC",
    # Runtime re-planning: partition coalescing, skew-join splitting.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # The Python Data Source sensor feed (sources/pyds.py) implements
    # pushFilters(); Spark refuses a reader that implements it while this
    # flag (default false in 4.1) is off.
    "spark.sql.python.filterPushdown.enabled": "true",
    # Recursive CTEs (queries/sql_front.py hierarchy walks) emit O(rows *
    # depth) intermediate rows; the 4.1 default ceiling of 1M rows trips
    # around SF1 on the customer-digit walk. 100M keeps the guard (runaway
    # recursion still errors) with ~100x headroom.
    "spark.sql.cteRecursionRowLimit": "100000000",
    # Plan strings truncate each scan-metadata entry (PushedFilters,
    # ReadSchema, Location) at 100 chars with a '...' and no closing
    # bracket; the plan-shape assertions (plans/explain.py) parse those
    # brackets, and a 3-term pushed-filter list already overflows 100.
    "spark.sql.maxMetadataStringLength": "2000",
    # Pairs with the files.minPartitionNum floor set by ensure_io_confs:
    # the default 4 MB openCostInBytes would re-cap the MB-scale fixture
    # files at ~3 input splits. 64 KB keeps the many-small-files guard (a
    # thousand 1 KB files still pack into few splits) while letting those
    # files split core-wide. Results are partitioning-independent (fuzzed
    # by scripts/determinism_sweep.py regime B = 256 KB splits, and
    # tests/test_determinism.py).
    "spark.sql.files.openCostInBytes": str(64 * 1024),
    # AQE post-shuffle coalescing floor (optimization r8, guide §2.2/2.5):
    # coalescePartitions.parallelismFirst already targets default
    # parallelism, but its 1 MB minPartitionSize floor re-coalesces the
    # MB-scale fixture shuffles to 1-3 partitions — the materialized
    # shingle checkpoint came out 3-partitioned and every downstream
    # pair join ran 3 tasks wide (AQE sizes by shuffle BYTES and cannot
    # see a consumer's compute amplification: 5x candidate fan-out, 16
    # md5s/row). 64 KB keeps parallelism-first effective on small inputs;
    # at cluster scale partitions are far above 64 KB and the advisory
    # size governs exactly as before (measured here: capped jaccard pair
    # stage 3.4s -> 1.8s, minhash 2.1s -> 1.1s warm at sf0.1).
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k",
    # Planning-cost cut (optimization r9, guide §7.3 "planning time itself
    # can become the bottleneck"): constraint propagation re-derives
    # inferred constraints over the whole expression tree on every
    # analysis, with cost superlinear in tree width — and this engine's
    # plans are wide (64-column centroid aggregates, k-way HOF argmins,
    # iterative loops that re-plan per round because literals change).
    # Measured (one JVM, on/off/on/off interleave over the 16 slowest
    # registered queries): per-query min lower with it OFF in 13/16,
    # headline q1/q5/asof ~10-25% lower, Lloyd-iteration planning
    # 0.8s -> 0.55s. The rule is semantics-preserving by construction
    # (constraints only ADD redundant filters/prune provably-true ones),
    # so results are identical — it is purely a driver-CPU trade, and
    # driver planning cost does not shrink with cluster size, so the
    # saving carries to 100 TB deployments; flip it back for workloads
    # whose join pruning relies on inferred IsNotNull constraints.
    "spark.sql.constraintPropagation.enabled": "false",
}


def ensure_io_confs(spark: SparkSession) -> SparkSession:
    """Apply our confs to an existing session (e.g. the driver's).

    The batch partition counts are sized here, from the live session's
    ``defaultParallelism``: ``shuffle.partitions`` and the
    ``files.minPartitionNum`` scan-split floor, which only lowers the
    split size (maxSplitBytes = min(maxPartitionBytes, max(openCost,
    bytes/N))) and so is a no-op once bytes/N >> 128 MB. RUNTIME_CONFS
    is applied after them, so a caller's entry for either key wins.
    ``register`` re-runs this per query call, so on ``local-cluster`` the
    count is read after the executors have registered. A stream started
    through ``start_keyed_sink`` gets its state partition count from
    ``state_partitions`` instead.
    """
    n = str(spark.sparkContext.defaultParallelism)
    confs = {
        "spark.sql.shuffle.partitions": n,
        "spark.sql.files.minPartitionNum": n,
        **RUNTIME_CONFS,
    }
    for k, v in confs.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on this build; builder path sets it instead
    return spark


def state_partitions(spark: SparkSession) -> int:
    """State partitions for a new keyed-sink stream: one per executor
    (block managers minus the driver's), at least 1 — so 1 in local mode.

    The partial aggregation before the shuffle bounds the state stage's
    input by (groups touched x input splits) rows, so a state partition's
    fixed per-trigger cost (its delta and checksum files, each a checksummed
    local write, and one sink file per key it holds) outweighs its per-row
    work; a second partition on the same executor adds that cost on the
    same disk and JVM without adding a machine.
    """
    return max(1, spark.sparkContext._jsc.sc().getExecutorMemoryStatus().size() - 1)


def get_spark(
    app_name: str = "masd-spark",
    master: str | None = None,
    driver_memory: str | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a session tuned for local[N] testing.

    On a real cluster the same code runs unchanged; only master and
    memory come from the environment (``SPARK_MASTER``, else
    ``local[$SPARK_GRAFT_CPUS]``, else ``local[*]``). Partition counts
    follow the cores the session gets (see ``ensure_io_confs``).
    """
    # Must precede JVM launch: local-mode Python workers inherit PYTHONPATH
    # from the JVM's environment, which copies this process's at context
    # start — the vendored protobuf fallback (TWS state protocol) rides it.
    from masd_spark.vendor import ensure_protobuf

    ensure_protobuf()

    cpus = os.getenv("SPARK_GRAFT_CPUS", "*")
    master = master or os.getenv("SPARK_MASTER", f"local[{cpus}]")
    driver_memory = driver_memory or os.getenv("MASD_DRIVER_MEMORY", "16g")

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    )
    # Local-mode only: shuffle/spill files on tmpfs dodge this host's
    # erratic block-device latency (observed multi-second stalls on tiny
    # shuffles). On a real cluster spark.local.dir is per-node SSD instead.
    local_dir = os.getenv("SPARK_LOCAL_DIRS")
    if local_dir is None and master.startswith("local") and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/masd-spark-local"
    if local_dir:
        os.makedirs(local_dir, exist_ok=True)
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    for k, v in (extra_confs or {}).items():
        builder = builder.config(k, v)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    # getOrCreate() may have returned a pre-existing session -> re-assert.
    return ensure_io_confs(spark)
