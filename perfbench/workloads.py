"""The benchmark's workloads. Each returns a ``Result``: the end-to-end
metrics, the same figures under their design names, per-layer metrics
(traced run), and the count of attempted and failed operations (one query
run or one micro-batch each).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from dataclasses import dataclass, field

import numpy as np

import data
from tracing import iso_ms, job_stats, progress_listener

# The same validate/window/nest operators as the stream, plus scan-,
# shuffle- and join-heavy relational queries, over whole tables.
SENSOR_BATCH_MIX = [
    "masd_sensor_rollup", "masd_sliding_rollup", "masd_nested_document_flat",
    "masd_parse_sensor_json", "q1_pricing_summary", "q3_shipping_priority",
    "q5_nation_revenue", "sessionize_events", "asof_join_purchases",
]
# The only queries where operators.dedup / operators.similarity do the work.
LLM_MIX = ["dedup_ngram_jaccard", "dedup_minhash_lsh", "ann_cosine_topk"]

DRAIN_FILES = 3           # backlog files, one per trigger
DRAIN_FILE_EVENTS = 10_000
WARM_FILE_EVENTS = 2_000  # the drain's first, unmeasured file
BACKLOG_START_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z
REF_DRAIN_FILES = 1       # local[1] reference drain (traced run only)
EVENTS_PER_S = data.N_STATIONS * data.SENSORS_PER_STATION * 1000 / data.MEAN_INTERVAL_MS
GEN_LAG_LIMIT_MS = 250.0  # one release period: a later file invalidates the run


@dataclass
class Result:
    e2e: dict[str, tuple[float, str]] = field(default_factory=dict)
    named: dict[str, tuple[float, str]] = field(default_factory=dict)
    layer: dict[str, tuple[float, str]] = field(default_factory=dict)
    info: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0

    def error(self, msg: str) -> None:
        self.info.setdefault("errors", []).append(msg[:300])


def pct(values, q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype="float64"), q)) if len(values) else 0.0


# --------------------------------------------------------------------------
# batch_mix: closed loop, one client
# --------------------------------------------------------------------------


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _fresh_corpus(ctx, i: int) -> str:
    """The tables under a new path, so per-corpus caches (the shared
    shingle sets) start empty, as for a job over a new corpus. Hard links:
    no bytes are copied."""
    d = os.path.join(ctx.run_dir, f"corpus-{i:04d}")
    os.makedirs(d)
    for name in data.TABLE_NAMES:
        os.link(os.path.join(ctx.tables_dir, f"{name}.parquet"),
                os.path.join(d, f"{name}.parquet"))
    return d


def _run_pass(ctx, res: Result, reg: dict, sf_dir: str, order: list[str],
              traced: bool, exec_tot: dict) -> tuple[float, dict[str, float]]:
    """One pass over ``order``, each query forced with the noop sink.
    Returns the pass time and the time of each query that completed."""
    tr, sc = ctx.tracer, ctx.spark.sparkContext
    times: dict[str, float] = {}
    p0 = time.perf_counter()
    for q in order:
        res.attempted += 1
        group = f"perfbench-{os.path.basename(sf_dir)}-{q}"
        a = time.perf_counter()
        try:
            if traced:
                sc.setJobGroup(group, q)
                with tr.span(f"queries.build.{q}", "queries"):
                    df = reg[q].fn(ctx.spark, sf_dir)
                with tr.span(f"exec.execute.{q}", "exec"):
                    _force(df)
            else:
                _force(reg[q].fn(ctx.spark, sf_dir))
        except Exception as e:  # one failed operation; the mix goes on
            res.failed += 1
            res.error(f"{q}: {e!r}")
            continue
        times[q] = time.perf_counter() - a
        if traced:
            for k, v in job_stats(sc, group).items():
                exec_tot[k] += v
    return time.perf_counter() - p0, times


def batch_mix(ctx) -> Result:
    """The mix once, right after set-up, in the listed cyclic order started
    at ``seed % 12`` (the seed varies the order while every query keeps its
    neighbours): the measured pass, as a job over a new corpus in a fresh
    session runs it, code generation and JIT warm-up included. A later
    pass over the same mix is not timed: it checks every result against
    its oracle. A traced run adds a traced and then an untraced pass (the
    per-layer figures, and the tracing overhead: the later pass runs
    warmer, so the difference is an upper bound)."""
    from masd_spark.queries import load_all

    from checks import oracle_matches

    names = SENSOR_BATCH_MIX + LLM_MIX
    res = Result()
    tr = ctx.tracer
    if tr is not None:
        tr.enabled = False  # spans only inside the traced pass
    t0 = time.perf_counter()
    spark = ctx.start_session()
    t1 = time.perf_counter()
    reg = load_all()
    ctx.setup_parts["load_all"] = time.perf_counter() - t1
    _force(reg[names[0]].fn(spark, ctx.small_dir))  # the first result
    ctx.record_setup(time.perf_counter() - t0, res)

    shift = ctx.seed % len(names)
    order = names[shift:] + names[:shift]
    exec_tot = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
    pass_s, times = _run_pass(ctx, res, reg, _fresh_corpus(ctx, 1), order, False, exec_tot)
    ctx.mark("measured")

    bad: set[str] = set()
    sf_dir = _fresh_corpus(ctx, 2)
    for q in names:
        try:
            ok = oracle_matches(ctx.root, spark, reg[q], sf_dir)
        except Exception as e:
            ok = False
            res.error(f"check {q}: {e!r}")
        if not ok:
            bad.add(q)
    ctx.mark("checked")
    # the measured run of a query whose result failed the check counts as failed
    res.failed += sum(q in bad for q in times)
    res.info["mismatched"] = sorted(bad)

    per_query = list(times.values())
    sensor_q = [times[q] for q in SENSOR_BATCH_MIX if q in times]
    res.e2e["pass_s"] = (pass_s, "s")
    res.e2e["latency_p50_ms"] = (pct(per_query, 50) * 1000, "ms")
    res.e2e["latency_p90_ms"] = (pct(per_query, 90) * 1000, "ms")
    res.named["batch_mix_s"] = (sum(times.get(q, 0.0) for q in SENSOR_BATCH_MIX), "s")
    res.named["llm_mix_s"] = (sum(times.get(q, 0.0) for q in LLM_MIX), "s")
    res.named["batch_query_p50_s"] = (pct(sensor_q, 50), "s")
    res.named["batch_query_p90_s"] = (pct(sensor_q, 90), "s")
    res.info["query_s"] = {q: round(t, 4) for q, t in times.items()}

    if tr is not None:
        tr.enabled = True
        traced_s, _ = _run_pass(ctx, res, reg, _fresh_corpus(ctx, 3), order, True, exec_tot)
        tr.enabled = False
        untraced_s, _ = _run_pass(ctx, res, reg, _fresh_corpus(ctx, 4), order, False, exec_tot)
        totals = tr.layer_totals()
        lay = res.layer
        lay["trace.pass_s_traced"] = (traced_s, "s")
        lay["trace.pass_s_untraced"] = (untraced_s, "s")
        lay["trace.overhead_pct"] = ((traced_s / untraced_s - 1.0) * 100.0, "%")
        q_tot, q_self, _ = totals.get("queries", (0.0, 0.0, 0))
        lay["queries.build_s"] = (q_tot, "s")
        lay["queries.build_self_s"] = (q_self, "s")
        lay["exec.execute_s"] = (totals.get("exec", (0.0, 0.0, 0))[0], "s")
        for k, v in exec_tot.items():
            lay[f"exec.{k}"] = (v, "count")
        ctx.operator_layers(res, totals)
    return res


# --------------------------------------------------------------------------
# sensor_stream
# --------------------------------------------------------------------------


def _stamped_write(batch_df, batch_id: int, out_path: str) -> None:
    """The keyed partitioned write, with the batch id on every row so the
    check can pick each key's final emission."""
    from pyspark.sql import functions as F

    (
        batch_df.withColumn("batch_id", F.lit(batch_id))
        .withColumn("sink_key", F.col("station.id"))
        .write.mode("append").partitionBy("sink_key").parquet(out_path)
    )


class _Stream:
    """Input dir, sink dir and checkpoint of one streaming query."""

    def __init__(self, ctx, name: str):
        base = os.path.join(ctx.run_dir, name)
        self.ctx, self.name = ctx, name
        self.src = os.path.join(base, "in")
        self.out = os.path.join(base, "out")
        self.ckpt = os.path.join(base, "checkpoint")
        os.makedirs(self.src)

    def start(self, max_files: int, available_now: bool):
        from masd_spark.streaming.pipeline import (
            read_file_sensor_stream, sensor_pipeline, start_keyed_sink)

        readings = read_file_sensor_stream(self.ctx.spark, self.src, max_files)
        self.query = start_keyed_sink(
            sensor_pipeline(readings), self.out, self.ckpt,
            available_now=available_now, write_batch=_stamped_write)
        self.ctx.query_phase[str(self.query.id)] = self.name
        return self.query

    def progress(self) -> list[dict]:
        return [p if isinstance(p, dict) else json.loads(p.json)
                for p in self.query.recentProgress]


def _write_files(src: str, seed: int, n_files: int, prefix: str,
                 per_file: int = DRAIN_FILE_EVENTS, start_ms: int = BACKLOG_START_MS) -> None:
    """A backlog of ``n_files`` time-ordered files of about ``per_file``
    readings each (contiguous time slices: no reading is late)."""
    ev = data.sensor_events(np.random.default_rng(seed), start_ms,
                            int(n_files * per_file / EVENTS_PER_S * 1000))
    bounds = np.linspace(0, len(ev["ts"]), n_files + 1).astype(int)
    for i in range(n_files):
        data.write_atomic(src, f"{prefix}_{i:04d}.json",
                          data.jsonl_lines(ev, int(bounds[i]), int(bounds[i + 1])))


def _busy(prog: list[dict]) -> list[dict]:
    return [p for p in prog if p.get("numInputRows", 0) > 0]


def _trigger_end_ms(p: dict) -> float:
    return iso_ms(p["timestamp"]) + p["durationMs"].get("triggerExecution", 0)


def _backlog(ctx, name: str, n_files: int) -> _Stream:
    """A stream whose input holds one small warm-up file, then a backlog of
    ``n_files`` files from the run's seed."""
    s = _Stream(ctx, name)
    # ten minutes before the backlog: its window closes before any of it
    _write_files(s.src, ctx.seed + 1, 1, "a_warm", WARM_FILE_EVENTS,
                 BACKLOG_START_MS - 600_000)
    _write_files(s.src, ctx.seed, n_files, "drain")
    return s


def _drain(s: _Stream) -> float:
    """Drain the backlog one file per trigger; events/s is the median over
    the triggers after the warm-up file of input rows / trigger time."""
    q = s.start(1, available_now=True)
    q.awaitTermination(150)
    if q.isActive:
        q.stop()
        raise RuntimeError(f"{s.name}: backlog not drained within 150 s")
    if q.exception() is not None:
        raise RuntimeError(f"{s.name}: query failed: {q.exception()}")
    busy = _busy(s.progress())[1:]
    rates = [p["numInputRows"] / p["durationMs"]["triggerExecution"] * 1000.0 for p in busy]
    return float(np.median(rates))


def _phase_layers(res: Result, phase: str, prog: list[dict]) -> None:
    """Per-phase streaming metrics from StreamingQueryProgress."""
    busy = _busy(prog)
    lay = res.layer
    pre = f"streaming.{phase}."
    lay[pre + "batches"] = (len(prog), "count")
    lay[pre + "useful_batch_ratio"] = (len(busy) / len(prog) if prog else 0.0, "ratio")
    lay[pre + "input_rows"] = (sum(p.get("numInputRows", 0) for p in prog), "count")
    ops = [p["stateOperators"][0] for p in prog if p.get("stateOperators")]
    lay[pre + "rows_emitted"] = (sum(o.get("numRowsUpdated", 0) for o in ops), "count")
    for key, metric in [
        ("triggerExecution", "trigger_ms_p50"), ("addBatch", "add_batch_ms_p50"),
        ("queryPlanning", "query_planning_ms_p50"), ("walCommit", "wal_commit_ms_p50"),
        ("commitOffsets", "commit_offsets_ms_p50"), ("latestOffset", "latest_offset_ms_p50"),
        ("getBatch", "get_batch_ms_p50"),
    ]:
        lay[pre + metric] = (pct([p["durationMs"].get(key, 0) for p in prog], 50), "ms")
    lay[pre + "state_rows"] = (ops[-1].get("numRowsTotal", 0) if ops else 0, "count")
    lay[pre + "state_memory_bytes"] = (
        max((o.get("memoryUsedBytes", 0) for o in ops), default=0), "bytes")
    lay[pre + "state_commit_ms_p50"] = (pct([o.get("commitTimeMs", 0) for o in ops], 50), "ms")
    lay[pre + "rows_dropped_by_watermark"] = (
        sum(o.get("numRowsDroppedByWatermark", 0) for o in ops), "count")


def _check_phase(ctx, res: Result, s: _Stream, n_batches: int) -> None:
    from checks import check_stream_sink

    try:
        expected, wrong, bad_batches = check_stream_sink(ctx.spark, s.src, s.out)
    except Exception as e:
        res.error(f"check {s.name}: {e!r}")
        res.failed += n_batches
        return
    res.info[f"{s.name}_keys"] = expected
    if wrong:
        res.error(f"{s.name}: {wrong} of {expected} keys wrong or missing")
        res.failed += max(1, bad_batches)


def _live(ctx, res: Result) -> tuple[_Stream, int]:
    """Open loop for ``ctx.seconds``: a separate generator process releases
    a file every 250 ms; the query reads every pending file per trigger.
    Latency is per released file: from the creation of its newest reading
    to the end of the trigger that emitted its results."""
    s = _Stream(ctx, "live")
    manifest = os.path.join(ctx.run_dir, "live-manifest.jsonl")
    q = s.start(1_000_000, available_now=False)
    start_ms = int(time.time() * 1000) + 1500
    gen = subprocess.Popen(
        [sys.executable, os.path.join(os.path.dirname(__file__), "livegen.py"),
         "--out", s.src, "--manifest", manifest, "--seed", str(ctx.seed),
         "--start-ms", str(start_ms), "--seconds", str(ctx.seconds)],
        stdout=subprocess.DEVNULL)
    try:
        gen.wait(timeout=ctx.seconds + 30)
    finally:
        if gen.poll() is None:
            gen.kill()
            gen.wait()
    gen_end_ms = time.time() * 1000
    if gen.returncode != 0:
        raise RuntimeError(f"live generator exited with {gen.returncode}")
    q.processAllAvailable()
    q.stop()
    prog = s.progress()
    with open(manifest) as fh:
        files = [json.loads(line) for line in fh]

    # files are read whole and in release order, so cumulative row counts
    # map every file to the batch that read it
    busy = _busy(prog)
    cum_events = np.cumsum([f["events"] for f in files])
    written = np.array([f["written_ms"] for f in files])
    batch_rows = np.cumsum([p["numInputRows"] for p in busy])
    lat, backlog_files = [], []
    for i, f in enumerate(files):
        b = int(np.searchsorted(batch_rows, cum_events[i], side="left"))
        if f["newest_ms"] is not None and b < len(busy):
            lat.append(_trigger_end_ms(busy[b]) - f["newest_ms"])
    for b, p in enumerate(busy):
        released = int(np.searchsorted(written, _trigger_end_ms(p), side="right"))
        backlog_files.append(released - int(np.searchsorted(cum_events, batch_rows[b], side="right")))
    res.e2e["latency_p50_ms"] = (pct(lat, 50), "ms")
    res.e2e["latency_p90_ms"] = (pct(lat, 90), "ms")
    res.named["stream_latency_p50_ms"] = res.e2e["latency_p50_ms"]
    res.named["stream_latency_p90_ms"] = res.e2e["latency_p90_ms"]
    res.info["live_latency_samples"] = len(lat)
    res.info["live_batch_latency_p50_ms"] = pct(
        [_trigger_end_ms(p) - iso_ms(p["eventTime"]["max"]) for p in busy], 50)

    lag = max(f["written_ms"] - f["due_ms"] for f in files)
    rows_by_gen_end = sum(p["numInputRows"] for p in busy if _trigger_end_ms(p) <= gen_end_ms)
    res.layer["generator.events"] = (int(cum_events[-1]), "count")
    res.layer["generator.lag_ms_max"] = (lag, "ms")
    res.layer["streaming.live.backlog_files_max"] = (max(backlog_files, default=0), "count")
    res.layer["streaming.live.backlog_events_end"] = (int(cum_events[-1]) - rows_by_gen_end, "count")
    _phase_layers(res, "live", prog)
    if lag > GEN_LAG_LIMIT_MS:  # latencies set by the generator, not the engine
        res.info["invalid"] = f"generator fell behind schedule by {lag:.0f} ms"
        res.failed += len(prog)
    return s, len(prog)


def sensor_stream(ctx) -> Result:
    """Set-up, the untraced drain (the end-to-end figures), in a traced run
    the same backlog drained twice more (the tracing overhead), then the
    live phase; the sinks are checked after all of them. Set-up runs from
    the session's start to the end of the drain's first micro-batch (the
    warm-up file): a streaming job's time to its first result."""
    res = Result()
    tr = ctx.tracer
    if tr is not None:
        tr.enabled = False  # spans only inside the traced drain and the live phase
        ctx.spark_listener = lambda spark: spark.streams.addListener(
            progress_listener(tr, lambda qid: ctx.query_phase.get(qid, "other")))
    drain = _backlog(ctx, "drain", DRAIN_FILES)
    t0 = time.time()
    ctx.start_session()
    eps = _drain(drain)
    drain_prog = drain.progress()
    ctx.record_setup(_trigger_end_ms(_busy(drain_prog)[0]) / 1000.0 - t0, res)
    res.e2e["pass_s"] = (DRAIN_FILES * DRAIN_FILE_EVENTS / eps, "s")
    res.named["stream_drain_eps"] = (eps, "1/s")
    phases = [(drain, len(drain_prog))]
    if tr is not None:
        # the tracing overhead: the same backlog traced, then untraced (the
        # later drain runs warmer, so the difference is an upper bound)
        traced = _backlog(ctx, "drain_traced", DRAIN_FILES)
        untraced = _backlog(ctx, "drain_untraced", DRAIN_FILES)
        tr.enabled = True
        eps_traced = _drain(traced)
        tr.enabled = False
        eps_untraced = _drain(untraced)
        tr.enabled = True
        phases += [(traced, len(traced.progress())), (untraced, len(untraced.progress()))]
    live, n_live = _live(ctx, res)
    phases.append((live, n_live))
    ctx.mark("measured")

    if tr is not None:
        tr.enabled = False
    for s, n in phases:
        res.attempted += n
        res.info[f"{s.name}_trigger_ms"] = [
            p["durationMs"]["triggerExecution"] for p in _busy(s.progress())]
        _check_phase(ctx, res, s, n)
    ctx.mark("checked")
    if tr is not None:
        _phase_layers(res, "drain", drain_prog)
        res.layer["streaming.drain.backlog_files_max"] = (DRAIN_FILES, "count")
        res.layer["streaming.drain.backlog_events_end"] = (0, "count")
        ctx.operator_layers(res, tr.layer_totals())
        res.layer["trace.pass_s_traced"] = (DRAIN_FILES * DRAIN_FILE_EVENTS / eps_traced, "s")
        res.layer["trace.pass_s_untraced"] = (DRAIN_FILES * DRAIN_FILE_EVENTS / eps_untraced, "s")
        res.layer["trace.overhead_pct"] = ((eps_untraced / eps_traced - 1.0) * 100.0, "%")
        # single-threaded reference: the same job on local[1]
        ctx.stop_session()
        ctx.start_session(master="local[1]")
        eps1 = _drain(_backlog(ctx, "ref1core", REF_DRAIN_FILES))
        res.layer["streaming.drain.eps_1core"] = (eps1, "1/s")
    return res


WORKLOADS = {
    "sensor_stream": sensor_stream,
    "batch_mix": batch_mix,
}
