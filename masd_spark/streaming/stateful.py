"""Custom stateful streaming operators (applyInPandasWithState).

The reference has no custom state (its only stateful op is the built-in
windowed aggregation, consumer.py:127-139). An LLM-scale ingest pipeline
needs operators whose state is NOT expressible as a built-in streaming
aggregate — the canonical example implemented here is a per-key EWMA: an
order-sensitive fold over event time, carried across micro-batches in
explicit GroupState. Spark's agg functions are commutative merges and
cannot express it incrementally.

Scale shape: state lives partitioned by the group key in the state store
(one shuffle per micro-batch, same as any streaming agg); each group's
batch slice crosses to Python ONCE per trigger as Arrow record batches —
cost is per-row-ish but only over the incremental batch, never the
history. Ordering contract: correct EWMA values require batches to arrive
in event-time order per key (e.g. time-split file drops or a Kafka topic
keyed and time-ordered per partition); within a batch the operator sorts
by timestamp itself.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

_PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"
_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)

EWMA_OUTPUT_SCHEMA = (
    "station_id string, sensor_id string, n_valid long, ewma double"
)
EWMA_STATE_SCHEMA = "n_valid long, ewma double"


def streaming_sensor_ewma(readings: DataFrame, alpha: float = 0.3) -> DataFrame:
    """Per-(station, sensor) exponentially weighted moving average of the
    valid readings, updated every micro-batch.

    ``readings`` must carry station_id, sensor_id, timestamp (epoch ms)
    and the classify_validity columns (value_numeric, is_valid). Emits one
    row per key per trigger with the running (n_valid, ewma).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdf_iter, state: GroupState):
        if state.exists:
            n, ew = state.get
        else:
            n, ew = 0, None
        # Arrow may split one group's batch slice into several chunks
        # (arrow.maxRecordsPerBatch); the fold is order-sensitive, so
        # materialize the whole slice and sort ONCE before folding.
        chunks = [pdf for pdf in pdf_iter]
        batch = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
        valid = batch[batch["is_valid"]].sort_values("timestamp", kind="stable")
        for v in valid["value_numeric"]:
            v = float(v)
            ew = v if ew is None else alpha * v + (1.0 - alpha) * ew
            n += 1
        if n == 0 and not state.exists:
            # a key whose readings were ALL malformed: creating state and
            # emitting (0, null) would accumulate junk-key state forever
            # (NoTimeout never cleans it) and feed meaningless rows to the
            # sink — skip until the key produces its first valid reading
            return
        state.update((n, ew))
        yield pd.DataFrame(
            [{"station_id": key[0], "sensor_id": key[1], "n_valid": n, "ewma": ew}]
        )

    return readings.groupBy("station_id", "sensor_id").applyInPandasWithState(
        update,
        EWMA_OUTPUT_SCHEMA,
        EWMA_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


HH_OUTPUT_SCHEMA = "station_id string, sensor_id string, n_valid long, rank long"


@contextmanager
def rocksdb_state_store(spark: SparkSession) -> Iterator[None]:
    """Run the enclosed block with the RocksDB state-store provider, which
    the transformWithStateInPandas operators below require, then restore
    the session's previous provider (a new stream checkpoint pins the
    provider it was started with)."""
    saved = spark.conf.get(_PROVIDER_KEY, None)
    spark.conf.set(_PROVIDER_KEY, _ROCKSDB_PROVIDER)
    try:
        yield
    finally:
        if saved is None:
            spark.conf.unset(_PROVIDER_KEY)
        else:
            spark.conf.set(_PROVIDER_KEY, saved)


def streaming_station_heavy_hitters(
    readings: DataFrame, k: int = 3, initial_counts=None
) -> DataFrame:
    """Running per-station top-``k`` sensors by valid-reading count, on
    Spark 4's transformWithStateInPandas (the arbitrary-state successor
    to applyInPandasWithState).

    State is a MapState sensor_id -> count: each micro-batch issues POINT
    reads/writes only for the sensors it touched — with the RocksDB state
    store that is O(batch keys) per trigger, never a full-state
    deserialize/rewrite like a GroupState blob; the emitted top-k comes
    from an O(k) ValueState summary (exact under monotone counts), so no
    trigger ever scans the full sensor map either. That access pattern is
    what makes per-key running aggregates viable when key cardinality is
    millions. Emits the station's full top-k each trigger (rank 1..k,
    count desc, sensor_id asc tiebreak).

    Protocol dependency: the TWS state protocol speaks protobuf to the
    JVM state server. Where no protobuf wheel exists the vendored shim
    (masd_spark/vendor/pbshim) provides the wire format — the JVM parses
    its bytes with real protobuf, so the shim is integration-verified by
    this operator's test. Run it inside :func:`rocksdb_state_store`.

    ``initial_counts`` (optional) bootstraps the state from a BATCH
    aggregate — a ``GroupedData`` keyed like the stream (station_id)
    whose rows carry (sensor_id, n_valid). This is the backfill ->
    streaming handoff: compute history once as a batch job, seed the
    state store via ``handleInitialState`` (first batch only), and let
    the stream continue incrementally instead of replaying history
    through the trigger loop.
    """
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class HeavyHitters(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._counts = handle.getMapState(
                "sensor_counts", "sensor_id string", "n long"
            )
            # current top-k summary: keeps per-trigger cost O(batch keys
            # + k) instead of a full MapState scan. Exact because counts
            # only ever INCREASE: the true top-k can change only via a
            # sensor incremented this batch, and any sensor previously
            # displaced re-enters the candidate set (with its true count
            # read from the MapState) the next time it is incremented.
            self._top = handle.getValueState(
                "topk_summary", "sensors array<string>, counts array<long>"
            )

        def _merge_topk(self, new_counts: dict[str, int]) -> list:
            if self._top.exists():
                sensors, counts = self._top.get()
                cand = dict(zip(sensors, counts))
            else:
                cand = {}
            cand.update(new_counts)
            top = sorted(cand.items(), key=lambda t: (-t[1], t[0]))[:k]
            self._top.update(([s for s, _ in top], [n for _, n in top]))
            return top

        def handleInitialState(self, key, initialState, timerValues) -> None:
            seeded: dict[str, int] = {}
            for s, c in zip(initialState["sensor_id"], initialState["n_valid"]):
                self._counts.updateValue((str(s),), (int(c),))
                seeded[str(s)] = int(c)
            self._merge_topk(seeded)

        def handleInputRows(self, key, rows, timer_values):
            inc: dict[str, int] = {}
            for pdf in rows:
                # notna: a valid reading with a null sensor_id cannot key a
                # MapState entry (and pandas value_counts drops NaN anyway
                # — make the exclusion explicit, mirrored in the batch oracle)
                valid = pdf[pdf["is_valid"] & pdf["sensor_id"].notna()]
                for s, c in valid["sensor_id"].value_counts().items():
                    inc[s] = inc.get(s, 0) + int(c)
            new_counts: dict[str, int] = {}
            for s, c in inc.items():
                prev = self._counts.getValue((s,))
                nc = (prev[0] if prev else 0) + c
                self._counts.updateValue((s,), (nc,))
                new_counts[s] = nc
            top = self._merge_topk(new_counts)
            if top:
                yield pd.DataFrame(
                    [
                        {
                            "station_id": key[0],
                            "sensor_id": s,
                            "n_valid": n,
                            "rank": i + 1,
                        }
                        for i, (s, n) in enumerate(top)
                    ]
                )

        def close(self) -> None:
            pass

    return readings.groupBy("station_id").transformWithStateInPandas(
        HeavyHitters(),
        outputStructType=HH_OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
        initialState=initial_counts,
    )


TSESS_OUTPUT_SCHEMA = (
    "station_id string, session_start long, session_end long, n_events long"
)


def streaming_timer_sessions(readings: DataFrame, gap_ms: int = 30_000) -> DataFrame:
    """Gap-based sessionization with EVENT-TIME TIMERS on
    transformWithStateInPandas: a session closes when no event arrives
    for ``gap_ms`` of EVENT time. Sessions whose closing gap is visible
    in the data (a later event for the same key) close inline in
    handleInputRows; the interesting case — a key that simply goes
    SILENT — closes via a registered event-time timer that fires when
    OTHER keys advance the watermark past (last_event + gap_ms). That
    late-silence flush is exactly what batch sessionize cannot express
    incrementally and what the timer API exists for.

    State is one (start, end, n) ValueState per key plus at most one
    live timer (re-registered on every extension) — O(keys), point
    reads, watermark-driven cleanup. ``readings`` must carry station_id,
    timestamp (epoch ms) and a watermark on its event-time column
    (timeMode=EventTime requires it). Emission contract: every session
    except, per key, a trailing one whose ``end + gap_ms`` the final
    watermark never passes.
    """
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class TimerSessions(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._h = handle
            self._open = handle.getValueState(
                "open_session", "start long, end long, n long"
            )

        @staticmethod
        def _row(key, sess):
            return pd.DataFrame(
                [
                    {
                        "station_id": key[0],
                        "session_start": int(sess[0]),
                        "session_end": int(sess[1]),
                        "n_events": int(sess[2]),
                    }
                ]
            )

        def handleInputRows(self, key, rows, timer_values):
            ts: list = []
            for pdf in rows:
                # notna: PERMISSIVE parsing can deliver an all-null row
                # (timestamp NaN); int(NaN) would kill the whole query
                col = pdf["timestamp"]
                ts.extend(int(t) for t in col[col.notna()])
            ts.sort()
            if not ts:
                return
            # fold the batch into gap-separated intervals, then MERGE the
            # open-session interval in by boundaries: a late (but
            # within-watermark) event extends the open session backwards
            # when within gap of its start, and forms its own closed
            # session when gap-separated — the naive fold instead glued
            # any t <= end + gap into the session regardless of how far
            # in the past it was
            ivals: list = []
            for t in ts:
                if ivals and t - ivals[-1][1] <= gap_ms:
                    s0, e0, n0 = ivals[-1]
                    ivals[-1] = (s0, max(e0, t), n0 + 1)
                else:
                    ivals.append((t, t, 1))
            if self._open.exists():
                ivals.append(tuple(self._open.get()))
                ivals.sort(key=lambda iv: iv[0])
                merged: list = []
                for iv in ivals:
                    if merged and iv[0] - merged[-1][1] <= gap_ms:
                        s0, e0, n0 = merged[-1]
                        merged[-1] = (s0, max(e0, iv[1]), n0 + iv[2])
                    else:
                        merged.append(iv)
                ivals = merged
            *closed, cur = ivals
            # one live timer per key: re-arm to the current session end
            for old in list(self._h.listTimers()):
                self._h.deleteTimer(old)
            self._open.update(cur)
            self._h.registerTimer(cur[1] + gap_ms)
            for sess in closed:
                yield self._row(key, sess)

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            # (parameter names must match the base class — pyspark's
            # util invokes this hook with keyword arguments)
            if self._open.exists():
                sess = tuple(self._open.get())
                if sess[1] + gap_ms <= expiredTimerInfo.getExpiryTimeInMs():
                    self._open.clear()
                    yield self._row(key, sess)

        def close(self) -> None:
            pass

    return readings.groupBy("station_id").transformWithStateInPandas(
        TimerSessions(),
        outputStructType=TSESS_OUTPUT_SCHEMA,
        outputMode="Append",
        timeMode="EventTime",
    )
