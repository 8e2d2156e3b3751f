"""Seed-driven inputs for the benchmark, built without Spark and without the
program's own encoder, so the parent and the change get byte-identical
inputs for the same seed.

* ``event_rows``: an events table of the sf0.1 shape (event_id, ts, user_id,
  event_type, value, props; same value domains). The benchmark may read only
  its own files, so it regenerates the table from the seed instead of
  reading the test data directory.
* ``encode_event``: the proto3 wire bytes of one event, written here.
* ``write_kafka_files``: Kafka-shaped parquet files (key, value, topic,
  partition, offset, timestamp) plus the warehouse rows they must produce,
  for the correctness check.
* ``write_tables``: the ten batch tables the registered queries read.
"""

from __future__ import annotations

import hashlib
import os
import struct
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TOPIC = "events"
PARTITIONS = 8
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
# 2026-01-01T00:00:00Z: the sink's out-of-bounds window (1825 days back,
# 366 ahead of the current date) keeps these valid until the end of 2030.
EVENTS_EPOCH_US = 1_767_225_600_000_000
EVENTS_SPAN_US = 30 * 86_400 * 1_000_000

def event_rows(seed: int, n: int) -> dict[str, np.ndarray]:
    """n events with ascending ts over 30 days, 1500 users, 5 event types,
    exponential values rounded to cents and 100 distinct props."""
    rng = np.random.default_rng([seed, 1])
    return {
        "event_id": np.arange(1, n + 1, dtype=np.int64),
        "ts": EVENTS_EPOCH_US + np.sort(rng.integers(0, EVENTS_SPAN_US, n)),
        "user_id": rng.integers(0, 1500, n).astype(np.int64),
        "event_type": rng.integers(0, len(EVENT_TYPES), n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": rng.integers(0, 100, n),
    }


def _varint(v: int) -> bytes:
    out = bytearray()
    while v > 0x7F:
        out.append((v & 0x7F) | 0x80)
        v >>= 7
    out.append(v)
    return bytes(out)


def _len_field(tag: int, payload: bytes) -> bytes:
    return bytes([tag]) + _varint(len(payload)) + payload


def encode_event(event_id: int, ts_us: int, user_id: int, event_type: str, value: float,
                 props: str) -> bytes:
    """proto3 wire bytes of message {int64 event_id = 1; Timestamp ts = 2;
    int64 user_id = 3; string event_type = 4; double value = 5;
    string props = 6}. Default-valued scalars are omitted, as proto3 does."""
    out = bytearray()
    if event_id:
        out += b"\x08" + _varint(event_id)
    secs, micros = divmod(ts_us, 1_000_000)
    ts = (b"\x08" + _varint(secs) if secs else b"") + (
        b"\x10" + _varint(micros * 1000) if micros else b""
    )
    out += _len_field(0x12, ts)
    if user_id:
        out += b"\x18" + _varint(user_id)
    if event_type:
        out += _len_field(0x22, event_type.encode())
    if value:
        out += b"\x29" + struct.pack("<d", value)
    if props:
        out += _len_field(0x32, props.encode())
    return bytes(out)


def encode_events(ev: dict[str, np.ndarray]) -> list[bytes]:
    """Wire bytes of every row of ``event_rows`` output."""
    return [
        encode_event(
            int(ev["event_id"][i]),
            int(ev["ts"][i]),
            int(ev["user_id"][i]),
            EVENT_TYPES[ev["event_type"][i]],
            float(ev["value"][i]),
            f'{{"k": {ev["props"][i]}}}',
        )
        for i in range(len(ev["event_id"]))
    ]


@dataclass
class KafkaFiles:
    """What the generator wrote, and what the sink must produce from it."""

    paths: list[str]
    rows_per_file: int
    expected: pa.Table  # the rows the warehouse must hold, sorted by (partition, offset)
    checksum: str  # of every message value and offset, in file order


KAFKA_SCHEMA = pa.schema(
    [
        ("key", pa.binary()),
        ("value", pa.binary()),
        ("topic", pa.string()),
        ("partition", pa.int32()),
        ("offset", pa.int64()),
        ("timestamp", pa.timestamp("us", tz="UTC")),
    ]
)


def write_kafka_files(
    out_dir: str, seed: int, n_files: int, rows_per_file: int, base_events: int | None = None
) -> KafkaFiles:
    """Write n_files Kafka-shaped parquet files of rows_per_file messages.

    The messages are ``event_rows(seed, base_events)`` encoded, repeated as
    often as the files need (a replayed topic: same payloads, fresh
    offsets, so distinct insert ids). File f holds partition f % 8.
    """
    os.makedirs(out_dir, exist_ok=True)
    base_n = base_events or n_files * rows_per_file
    ev = event_rows(seed, base_n)
    payloads = encode_events(ev)
    digest = hashlib.sha256()
    next_offset = [0] * PARTITIONS
    cols: dict[str, list] = {c: [] for c in (
        "event_id", "ts", "user_id", "event_type", "value", "props",
        "message_partition", "message_offset")}
    paths = []
    for f in range(n_files):
        src = np.arange(f * rows_per_file, (f + 1) * rows_per_file) % base_n
        part = f % PARTITIONS
        offsets = np.arange(next_offset[part], next_offset[part] + rows_per_file, dtype=np.int64)
        next_offset[part] += rows_per_file
        values = [payloads[i] for i in src]
        for name in ("event_id", "ts", "user_id", "event_type", "value", "props"):
            cols[name].append(ev[name][src])
        cols["message_partition"].append(np.full(rows_per_file, part, dtype=np.int32))
        cols["message_offset"].append(offsets)
        # The Kafka timestamp is the event time, as the producer stamped it.
        table = pa.table(
            [
                pa.array([str(int(e)).encode() for e in ev["event_id"][src]], pa.binary()),
                pa.array(values, pa.binary()),
                pa.array([TOPIC] * rows_per_file, pa.string()),
                pa.array(np.full(rows_per_file, part, dtype=np.int32)),
                pa.array(offsets),
                pa.array(ev["ts"][src], pa.timestamp("us", tz="UTC")),
            ],
            schema=KAFKA_SCHEMA,
        )
        for v in values:
            digest.update(_varint(len(v)) + v)
        digest.update(offsets.tobytes())
        path = os.path.join(out_dir, f"part-{f:05d}.parquet")
        pq.write_table(table, path, compression="zstd")
        paths.append(path)
    cols["message_timestamp"] = cols["ts"]
    return KafkaFiles(paths, rows_per_file, _expected_table(cols), digest.hexdigest()[:16])


def _expected_table(cols: dict[str, list]) -> pa.Table:
    """Valid rows as the warehouse holds them: proto3 default values read
    back as NULL, sorted by (partition, offset)."""
    c = {k: np.concatenate(v) for k, v in cols.items()}
    types = np.array(EVENT_TYPES, dtype=object)[c["event_type"]]
    props = np.array([f'{{"k": {p}}}' for p in range(100)], dtype=object)[c["props"]]
    t = pa.table(
        {
            "event_id": pa.array(c["event_id"], mask=c["event_id"] == 0),
            "ts": pa.array(c["ts"], pa.timestamp("us")),
            "user_id": pa.array(c["user_id"], mask=c["user_id"] == 0),
            "event_type": pa.array(types, pa.string()),
            "value": pa.array(c["value"], mask=c["value"] == 0),
            "props": pa.array(props, pa.string()),
            "message_partition": pa.array(c["message_partition"]),
            "message_offset": pa.array(c["message_offset"]),
            "message_timestamp": pa.array(c["message_timestamp"], pa.timestamp("us")),
        }
    )
    return t.sort_by([("message_partition", "ascending"), ("message_offset", "ascending")])


# -- batch tables for query_mix ------------------------------------------------

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
LANGS = ("de", "en", "es", "fr", "zh")
DAY_US = 86_400 * 1_000_000
EPOCH_1995_US = 788_918_400_000_000


def _pick(rng, values, n):
    return pa.array(np.array(values, dtype=object)[rng.integers(0, len(values), n)], pa.string())


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, n_days, n):
    return pa.array(EPOCH_1995_US + rng.integers(0, n_days, n) * DAY_US, pa.timestamp("us"))


def write_tables(out_dir: str, seed: int) -> None:
    """The ten tables the registered queries read, with the column names,
    types, sizes and value domains of the sf0.1 test data: a TPC-H-like star
    (region, nation, customer, supplier, part, orders, lineitem) plus events,
    documents (word-salad text with a few exact duplicates) and embeddings
    (64-d unit vectors with 10 labels). One parquet file each."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 3])
    n = {"customer": 15_000, "supplier": 1_000, "part": 20_000, "orders": 150_000,
         "lineitem": 600_000, "events": 100_000, "documents": 5_000, "embeddings": 2_000}
    tables = {
        "region": pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": pa.array(REGIONS)}),
        "nation": pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
    }
    c = n["customer"]
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(c, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)]),
        "c_nationkey": pa.array(rng.integers(0, 25, c).astype(np.int32)),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": _pick(rng, SEGMENTS, c),
    })
    s = n["supplier"]
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(s)]),
        "s_nationkey": pa.array(rng.integers(0, 25, s).astype(np.int32)),
        "s_acctbal": _money(rng, -999.99, 9999.99, s),
    })
    p = n["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(p, dtype=np.int64)),
        "p_name": _pick(rng, names, p),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], p),
        "p_type": _pick(rng, PART_TYPES, p),
        "p_size": pa.array(rng.integers(1, 51, p).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) / 10.0, 2),
    })
    o = n["orders"]
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(o, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, c, o)),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), o),
        "o_totalprice": _money(rng, 1000.0, 500000.0, o),
        "o_orderdate": _days(rng, 2405, o),
        "o_orderpriority": _pick(rng, PRIORITIES, o),
    })
    li = n["lineitem"]
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li)),
        "l_partkey": pa.array(rng.integers(0, p, li)),
        "l_suppkey": pa.array(rng.integers(0, s, li)),
        "l_linenumber": pa.array(rng.integers(1, 8, li).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, li),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": _pick(rng, ("A", "N", "R"), li),
        "l_linestatus": _pick(rng, ("F", "O"), li),
        "l_shipdate": _days(rng, 2499, li),
    })
    ev = event_rows(seed, n["events"])
    tables["events"] = pa.table({
        "event_id": pa.array(ev["event_id"] - 1),
        "ts": pa.array(ev["ts"], pa.timestamp("us")),
        "user_id": pa.array(ev["user_id"]),
        "event_type": pa.array(np.array(EVENT_TYPES, dtype=object)[ev["event_type"]], pa.string()),
        "value": ev["value"],
        "props": pa.array([f'{{"k": {k}}}' for k in ev["props"]]),
    })
    d = n["documents"]
    texts = [" ".join(rng.choice(WORDS, rng.integers(10, 101))) for _ in range(d)]
    for i in rng.choice(d, 16, replace=False).reshape(8, 2):
        texts[i[1]] = texts[i[0]]
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(d, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, d),
        "source": _pick(rng, [f"src{i}" for i in range(20)], d),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    e = n["embeddings"]
    vecs = rng.standard_normal((e, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(e, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, e).astype(np.int32)),
    })
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
