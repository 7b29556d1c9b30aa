"""Benchmark entry point.

    python3 perfbench/run.py --workload sensor_stream|batch_mix \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. Every file it writes stays under
``.perfbench/`` there: a per-checkout cache of the generated tables,
traces, and a per-run scratch directory (Spark local dirs, JVM temp, stream
inputs, sinks, checkpoints) removed at exit.

The last stdout line is the result:
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``
with every ``end_to_end`` metric of BENCHMARK.json (``--trace 0``) or every
``per_layer`` one (``--trace 1``). The line before it is a detail record:
host, the end-to-end figures under their design names (error_rate among
them), every end-to-end figure the workload measured (gated or not),
per-query and per-trigger times, and any errors.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import subprocess
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import data  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SMALL_SCALE = 0.005  # set-up tables
FULL_SCALE = 0.05    # measured tables: half the sf0.1 row counts


def _read_meminfo_kb(key: str) -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return 0


def _hwm_mb(pid: int | str) -> float:
    """Peak resident set size of a process, from /proc."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _source_id(root: str) -> str:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except OSError:
        pass
    h = hashlib.sha256()
    for dirpath, _, files in sorted(os.walk(os.path.join(root, "masd_spark"))):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    h.update(fh.read())
    return "src-" + h.hexdigest()[:16]


class Ctx:
    """Run-wide state: paths, host sizing, the Spark session, setups."""

    def __init__(self, root: str, args, tracer):
        self.root = root
        self.seed, self.seconds, self.tracer = args.seed, args.seconds, tracer
        work = os.path.join(root, ".perfbench")
        self.run_dir = os.path.join(work, f"run-{os.getpid()}")
        self.tables_dir = os.path.join(work, f"tables-v{data.DATA_VERSION}-sf{FULL_SCALE}")
        self.small_dir = os.path.join(work, f"tables-v{data.DATA_VERSION}-sf{SMALL_SCALE}")
        self.trace_dir = os.path.join(work, "traces")
        self.nproc = len(os.sched_getaffinity(0))
        mem_gb = _read_meminfo_kb("MemTotal") / 1024 / 1024
        self.heap_gb = int(min(8, max(1, mem_gb // 5)))
        self.host = {
            "nproc": self.nproc, "mem_total_gb": round(mem_gb, 1),
            "driver_heap": f"{self.heap_gb}g", "python": platform.python_version(),
            "source": _source_id(root),
        }
        self.t0 = time.perf_counter()
        self.marks: dict[str, float] = {}
        self.spark = None
        self.spark_listener = None
        self.query_phase: dict[str, str] = {}
        self.setup_parts: dict[str, float] = {}
        for d in (self.run_dir, self.trace_dir, os.path.join(self.run_dir, "tmp")):
            os.makedirs(d, exist_ok=True)
        os.environ.update({
            "SPARK_GRAFT_CPUS": str(self.nproc),
            "SPARK_LOCAL_DIRS": os.path.join(self.run_dir, "spark-local"),
            "MASD_SCRATCH": os.path.join(self.run_dir, "scratch"),
            "TMPDIR": os.path.join(self.run_dir, "tmp"),
            "PYSPARK_PYTHON": sys.executable,
        })

    def mark(self, name: str) -> None:
        """Wall time since start at a run milestone (reported in the detail)."""
        self.marks[name] = round(time.perf_counter() - self.t0, 2)

    def prepare_inputs(self) -> None:
        data.write_tables(self.tables_dir, FULL_SCALE)
        data.write_tables(self.small_dir, SMALL_SCALE)
        self.mark("inputs")

    def start_session(self, master: str | None = None):
        from masd_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            master=master or f"local[{self.nproc}]",
            driver_memory=f"{self.heap_gb}g",
            extra_confs={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={os.path.join(self.run_dir, 'tmp')} -XX:-UsePerfData",
                "spark.sql.streaming.numRecentProgressUpdates": "10000",
            },
        )
        self.setup_parts.setdefault("get_spark", time.perf_counter() - t0)
        if self.spark_listener is not None:
            self.spark_listener(self.spark)
        return self.spark

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def record_setup(self, seconds: float, res) -> None:
        """The cold set-up, once per run: this fresh process starts the JVM,
        imports the engine and produces its first result."""
        res.e2e["setup_s"] = (seconds, "s")
        res.layer["session.get_spark_s"] = (self.setup_parts["get_spark"], "s")
        res.layer["queries.load_all_s"] = (self.setup_parts.get("load_all", 0.0), "s")
        self.mark("setup")

    def operator_layers(self, res, totals) -> None:
        """Per-layer time and calls from the wrapped module functions."""
        tr = self.tracer
        for name, layer, fn in [
            ("sources.load_table", "sources", "load_table"),
            ("operators.validate.classify_validity", "operators.validate", "classify_validity"),
            ("operators.window_agg.windowed_metrics", "operators.window_agg", "windowed_metrics"),
            ("operators.nest.nest_sensor_document", "operators.nest", "nest_sensor_document"),
        ]:
            t, calls = tr.name_totals(f"{layer}.{fn}")
            res.layer[f"{name}_s"] = (t, "s")
            res.layer[f"{name}_calls"] = (calls, "count")
        for layer in ("operators.relational", "operators.dedup", "operators.similarity"):
            tot, _, calls = totals.get(layer, (0.0, 0.0, 0))
            res.layer[f"{layer}_s"] = (tot, "s")
            res.layer[f"{layer}_calls"] = (calls, "count")

    def peak_rss_mb(self) -> float:
        jvm = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        return _hwm_mb("self") + _hwm_mb(jvm)

    def close(self) -> None:
        from pyspark import SparkContext

        self.stop_session()
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.terminate()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        shutil.rmtree(self.run_dir, ignore_errors=True)
        self.mark("closed")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    bench_file = os.path.join(root, "BENCHMARK.json")
    for need in ("BENCHMARK.json", "masd_spark/streaming/pipeline.py", "tests/oracle.py"):
        if not os.path.exists(os.path.join(root, need)):
            print(f"perfbench: {need} not found; run from the root of a checkout",
                  file=sys.stderr)
            return 2
    with open(bench_file) as fh:
        spec = json.load(fh)
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    sys.path.insert(0, root)

    tracer = None
    if args.trace:
        from tracing import Tracer

        tracer = Tracer(f"{args.workload}-{args.seed}-{os.getpid()}")
    ctx = Ctx(root, args, tracer)
    real_stdout = sys.stdout
    sys.stdout = sys.stderr  # only the two result lines go to stdout
    try:
        ctx.prepare_inputs()
        if tracer is not None:
            tracer.install()
        res = WORKLOADS[args.workload](ctx)
        rss = ctx.peak_rss_mb()
        java = ctx.spark._jvm.java.lang.System.getProperty("java.version") if ctx.spark else None
        import pyspark

        ctx.host.update(spark=pyspark.__version__, java=java)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        ctx.close()
        if tracer is not None:
            tracer.dump(os.path.join(ctx.trace_dir, f"{tracer.run_id}.jsonl"))
        sys.stdout = real_stdout

    res.layer["mem.peak_rss_mb"] = (rss, "MB")
    error_rate = res.failed / max(1, res.attempted)
    named = {"setup_s": res.e2e["setup_s"], "peak_rss_mb": (rss, "MB"),
             "error_rate": (error_rate, "ratio"), **res.named}
    source = res.layer if args.trace else res.e2e
    metrics = {m["name"]: {"value": float(source.get(m["name"], (0.0,))[0]), "unit": m["unit"]}
               for m in wanted}
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "host": ctx.host,
        "named": {k: {"value": v[0], "unit": v[1]} for k, v in named.items()},
        "e2e": {k: {"value": v[0], "unit": v[1]} for k, v in res.e2e.items()},
        "info": res.info, "wall_s": ctx.marks,
    }
    print(json.dumps({"perfbench_detail": detail}))
    correct = not res.info.get("mismatched") and not res.info.get("errors")
    attempted = max(1, res.attempted)
    print(json.dumps({"correct": bool(correct), "attempted": attempted,
                      "failed": min(res.failed, attempted), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
