"""Deterministic inputs for the benchmark.

Two kinds of input:

* the star-schema + events + LLM tables (``write_tables``), shaped like the
  sf0.1 fixtures the query registry is written against (same schemas; row
  counts proportional to ``scale``; value domains, document shape and
  embedding geometry as measured on those fixtures). They are generated
  from a fixed seed, so every run of every workload sees the same tables;
* sensor readings in the reference's message shape (``sensor_events`` /
  ``write_jsonl``), generated from the run's ``--seed``: the drain backlog
  and the live phase of ``sensor_stream``.

Only NumPy and PyArrow are used, so generation never touches the program
under test.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES_SEED = 42
TABLE_NAMES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
# Bump when the generator changes: the cached tables' directory is keyed on it.
DATA_VERSION = "2"

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["blue", "cold", "hot", "large", "old", "small", "red", "green",
             "shiny", "steel", "tiny", "heavy", "light"]
_PART_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "en", "de", "es", "fr", "zh"]
_VOCAB = ("a agg batch big column customer data fast filter group hash join key "
          "line merge order part query row scan slow small sort spark stream "
          "table the value vector window").split()  # the fixture's 30 words

_DAY_US = 86_400_000_000
_EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01T00:00:00Z
_EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def _ts_us(values: np.ndarray) -> pa.Array:
    return pa.array(values.astype("int64"), type=pa.timestamp("us"))


def make_tables(scale: float, seed: int = TABLES_SEED) -> dict[str, pa.Table]:
    """All ten tables at ``scale`` (0.1 gives the row counts of the sf0.1
    fixtures: 600k lineitem, 100k events, 5k documents, 2k embeddings)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_orders, n_events = int(1_500_000 * scale), int(1_000_000 * scale)
    n_docs, n_vecs = int(50_000 * scale), int(20_000 * scale)

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    adj = np.array(_PART_ADJ)[rng.integers(0, len(_PART_ADJ), n_part)]
    noun = np.array(_PART_NOUN)[rng.integers(0, len(_PART_NOUN), n_part)]
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(_PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(rng.uniform(900.0, 999.9, n_part), 1),
    })
    order_day = rng.integers(0, 2400, n_orders)
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_orders, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_orders),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_orders), 2),
        "o_orderdate": _ts_us(_EPOCH_1995_US + order_day * _DAY_US),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_orders)],
    })
    lines = rng.integers(1, 8, n_orders)
    n_li = int(lines.sum())
    l_order = np.repeat(np.arange(n_orders, dtype="int64"), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    qty = rng.integers(1, 51, n_li).astype("float64")
    t["lineitem"] = pa.table({
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(np.arange(n_li) - starts + 1, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts_us(
            _EPOCH_1995_US + (order_day[l_order] + rng.integers(1, 121, n_li)) * _DAY_US
        ),
    })
    t["events"] = pa.table({
        "event_id": np.arange(n_events, dtype="int64"),
        "ts": _ts_us(_EPOCH_2024_US + rng.integers(0, 30 * _DAY_US, n_events)),
        "user_id": rng.integers(0, max(1, int(15_000 * scale)), n_events),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_events)],
        "value": np.round(np.minimum(rng.gamma(2.0, 25.0, n_events), 560.0), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    t["documents"] = _documents(rng, n_docs)
    t["embeddings"] = _embeddings(rng, n_vecs)
    return t


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random token sequences, 10-100 tokens (uniform) over a 30-word
    vocabulary; 5 % of the documents are another document's text with the
    token ``dup`` appended. This is the shape measured on the sf0.1
    fixture's ``documents`` (5,000 rows: 10-100 tokens, mean 297 chars,
    30 words plus ``dup``, 250 rows of the ``<other text> dup`` form)."""
    vocab = np.array(_VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))])
             for _ in range(n)]
    dups = rng.choice(n, size=n // 20, replace=False)
    originals = np.setdiff1d(np.arange(n), dups)
    for i, src in zip(dups, rng.choice(originals, size=len(dups))):
        texts[i] = texts[src] + " dup"
    return pa.table({
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": np.array(_LANGS)[rng.integers(0, len(_LANGS), n)],
        "source": np.char.add("src", rng.integers(0, 20, n).astype(str)),
        "n_chars": np.array([len(s) for s in texts], dtype="int64"),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    """Unit vectors in uniformly random directions and a random label in
    0-9, as measured on the sf0.1 fixture's ``embeddings`` (64-d, mean
    cosine within a label equal to that across labels, ~0)."""
    labels = rng.integers(0, 10, n)
    vecs = rng.normal(size=(n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype("float32")
    offsets = np.arange(0, n * dim + 1, dim, dtype="int32")
    emb = pa.ListArray.from_arrays(pa.array(offsets), pa.array(vecs.reshape(-1)))
    return pa.table({
        "vec_id": np.arange(n, dtype="int64"),
        "embedding": emb,
        "label": pa.array(labels, pa.int32()),
    })


def write_tables(out_dir: str, scale: float) -> None:
    """Write the tables (one parquet file each) unless already complete.
    Written to a sibling temp dir and renamed, so a killed run never
    leaves a half-written cache behind."""
    if os.path.exists(os.path.join(out_dir, "_COMPLETE")):
        return
    tmp = f"{out_dir}.tmp-{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    for name, table in make_tables(scale).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    open(os.path.join(tmp, "_COMPLETE"), "w").close()
    import shutil

    if os.path.exists(out_dir):  # a leftover without _COMPLETE
        shutil.rmtree(out_dir, ignore_errors=True)
    try:
        os.rename(tmp, out_dir)
    except OSError:  # a concurrent run published it first
        if not os.path.exists(os.path.join(out_dir, "_COMPLETE")):
            raise
        shutil.rmtree(tmp)


# --------------------------------------------------------------------------
# Sensor readings (the reference's Kafka message shape)
# --------------------------------------------------------------------------

N_STATIONS = 5
SENSORS_PER_STATION = 100  # 500 sensors x 4 readings/s = 2,000 events/s
MEAN_INTERVAL_MS = 250.0
MALFORMED_PCT = 0.05


def sensor_events(
    rng: np.random.Generator, start_ms: int, duration_ms: int
) -> dict[str, np.ndarray]:
    """Readings of every sensor in ``[start_ms, start_ms + duration_ms)``,
    sorted by timestamp. Per-sensor Gaussian inter-arrival (mean 250 ms,
    stddev 20 %) with a start stagger, 5 % malformed values, valid values
    round(gauss(mu, mu/10), 3) with mu = max(30, gauss(70, 20)) — the
    reference producer's recipe, vectorised."""
    n_sensors = N_STATIONS * SENSORS_PER_STATION
    per = int(duration_ms / MEAN_INTERVAL_MS * 1.3) + 4
    gaps = np.maximum(rng.normal(MEAN_INTERVAL_MS, MEAN_INTERVAL_MS * 0.2, (n_sensors, per)), 0.0)
    stagger = np.arange(n_sensors) % SENSORS_PER_STATION * MEAN_INTERVAL_MS / SENSORS_PER_STATION
    offs = (stagger[:, None] + np.cumsum(gaps, axis=1) - gaps[:, :1]).astype("int64")
    sensor = np.broadcast_to(np.arange(n_sensors)[:, None], offs.shape)
    keep = offs < duration_ms
    offs, sensor = offs[keep], sensor[keep]
    order = np.argsort(offs, kind="stable")
    offs, sensor = offs[order], sensor[order]
    n = len(offs)
    mu = np.maximum(30.0, rng.normal(70.0, 20.0, n))
    vals = np.maximum(0.0, np.round(rng.normal(mu, mu / 10.0), 3))
    bad = rng.random(n) < MALFORMED_PCT
    return {
        "ts": start_ms + offs,
        "station": sensor // SENSORS_PER_STATION,
        "sensor": sensor % SENSORS_PER_STATION,
        "value": vals,
        "bad": bad,
    }


def jsonl_lines(ev: dict[str, np.ndarray], lo: int = 0, hi: int | None = None) -> str:
    """Rows ``lo:hi`` of ``ev`` as JSON lines in the sensor schema."""
    hi = len(ev["ts"]) if hi is None else hi
    out = []
    for ts, st, se, v, b in zip(
        ev["ts"][lo:hi].tolist(), ev["station"][lo:hi].tolist(),
        ev["sensor"][lo:hi].tolist(), ev["value"][lo:hi].tolist(),
        ev["bad"][lo:hi].tolist(),
    ):
        out.append(json.dumps({
            "station_name": f"Station{st}",
            "station_id": f"st{st}",
            "sensor_id": str(se),
            "timestamp": ts,
            "value": "<<bad_data>>" if b else repr(v),
        }))
    return "\n".join(out) + "\n" if out else ""


def write_atomic(directory: str, name: str, text: str) -> None:
    """Publish a file so a file-stream reader never sees it half-written:
    the stream source skips names starting with '.', so write there first."""
    tmp = os.path.join(directory, f".{name}.tmp")
    with open(tmp, "w") as fh:
        fh.write(text)
    os.rename(tmp, os.path.join(directory, name))
