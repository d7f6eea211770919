"""Seeded benchmark inputs in the engine's fixture schemas.

Every table and chunk file is a pure function of the seed: the same seed
writes byte-identical parquet, so two runs of one seed do the same work.
Row counts do not depend on the seed (``ROWS``), which makes
``rows_per_s`` comparable across seeds.  Timestamps are written as
naive microsecond timestamps, the layout ``sources.fixtures.load``
normalises; event chunk files carry ``ts`` as epoch microseconds, the
layout ``streaming.pipelines.read_events_stream`` reads.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Collections tables: the sf0.01 proportions of the engine's fixtures.
ROWS = {
    "region": 5,
    "nation": 25,
    "supplier": 100,
    "customer": 1500,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}

# Stream inputs: chunk files, each one micro-batch when it lands.
EVENT_CHUNKS = 24
EVENT_CHUNK_ROWS = 400
EVENT_USERS = 150
LATE_PER_CHUNK = 4  # rows held back into the next chunk, >= 6 h behind it
DUP_PER_CHUNK = 8  # rows repeated (same event_id) inside their chunk
EMB_CHUNKS = 24
EMB_CHUNK_ROWS = 64
EMB_FIRST_ROWS = 256  # the chunk that trains the stream's frozen centroids
LAKE_ROWS = 2000
LAKE_LOOKUPS = 16
QUERY_BATCHES = 8
QUERY_ROWS = 8

DIM = 64
_VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
_T0 = np.datetime64("2024-01-01T00:00:00", "us")
_US_PER_H = 3_600_000_000


def _write(df: pd.DataFrame, schema: pa.Schema, path: str) -> None:
    pq.write_table(pa.Table.from_pandas(df, schema=schema, preserve_index=False), path)


def _day(rng, lo: str, hi: str, n: int) -> np.ndarray:
    a, b = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    return (a + rng.integers(0, (b - a).astype(int) + 1, n)).astype("datetime64[us]")


def _texts(rng, n: int) -> list[str]:
    out: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            out.append(out[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(_VOCAB, int(rng.integers(8, 90)))
            out.append(" ".join(words))
    return out


def _docs(rng, ids: np.ndarray) -> pd.DataFrame:
    text = _texts(rng, len(ids))
    return pd.DataFrame(
        {
            "doc_id": ids.astype("int64"),
            "text": text,
            "lang": rng.choice(_LANGS, len(ids)),
            "source": [f"src{i % 20}" for i in ids],
            "n_chars": np.array([len(t) for t in text], dtype="int64"),
        }
    )


def _vectors(rng, centers: np.ndarray, n: int) -> tuple[np.ndarray, np.ndarray]:
    label = rng.integers(0, len(centers), n)
    v = centers[label] + rng.normal(0.0, 0.09, (n, DIM))
    dup = np.flatnonzero(rng.random(n) < 0.05)
    dup = dup[dup > 0]
    src = (rng.random(len(dup)) * dup).astype(int)  # an earlier row
    v[dup] = v[src] + rng.normal(0.0, 1e-4, (len(dup), DIM))
    label[dup] = label[src]
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v.astype("float32"), label.astype("int32")


def _emb_frame(ids: np.ndarray, v: np.ndarray, label: np.ndarray) -> pd.DataFrame:
    return pd.DataFrame({"vec_id": ids.astype("int64"), "embedding": list(v), "label": label})


def _events(rng, ids: np.ndarray, ts: np.ndarray) -> pd.DataFrame:
    n = len(ids)
    # Zipf-skewed users: a handful of hot keys carry most of the traffic.
    users = (rng.zipf(1.3, n) - 1) % EVENT_USERS
    return pd.DataFrame(
        {
            "event_id": ids.astype("int64"),
            "ts": ts,
            "user_id": users.astype("int64"),
            "event_type": rng.choice(["click", "view", "signup", "purchase", "error"], n),
            "value": np.round(rng.exponential(40.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


_SCHEMAS = {
    "region": pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]),
    "nation": pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()), ("n_regionkey", pa.int32())]),
    "supplier": pa.schema(
        [("s_suppkey", pa.int64()), ("s_name", pa.string()), ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())]
    ),
    "customer": pa.schema(
        [
            ("c_custkey", pa.int64()),
            ("c_name", pa.string()),
            ("c_nationkey", pa.int32()),
            ("c_acctbal", pa.float64()),
            ("c_mktsegment", pa.string()),
        ]
    ),
    "part": pa.schema(
        [
            ("p_partkey", pa.int64()),
            ("p_name", pa.string()),
            ("p_brand", pa.string()),
            ("p_type", pa.string()),
            ("p_size", pa.int32()),
            ("p_retailprice", pa.float64()),
        ]
    ),
    "orders": pa.schema(
        [
            ("o_orderkey", pa.int64()),
            ("o_custkey", pa.int64()),
            ("o_orderstatus", pa.string()),
            ("o_totalprice", pa.float64()),
            ("o_orderdate", pa.timestamp("us")),
            ("o_orderpriority", pa.string()),
        ]
    ),
    "lineitem": pa.schema(
        [
            ("l_orderkey", pa.int64()),
            ("l_partkey", pa.int64()),
            ("l_suppkey", pa.int64()),
            ("l_linenumber", pa.int32()),
            ("l_quantity", pa.float64()),
            ("l_extendedprice", pa.float64()),
            ("l_discount", pa.float64()),
            ("l_tax", pa.float64()),
            ("l_returnflag", pa.string()),
            ("l_linestatus", pa.string()),
            ("l_shipdate", pa.timestamp("us")),
        ]
    ),
    "events": pa.schema(
        [
            ("event_id", pa.int64()),
            ("ts", pa.timestamp("us")),
            ("user_id", pa.int64()),
            ("event_type", pa.string()),
            ("value", pa.float64()),
            ("props", pa.string()),
        ]
    ),
    "documents": pa.schema(
        [("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()), ("source", pa.string()), ("n_chars", pa.int64())]
    ),
    "embeddings": pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())), ("label", pa.int32())]),
}
_EVENT_CHUNK_SCHEMA = _SCHEMAS["events"].set(1, pa.field("ts", pa.int64()))


def write_tables(seed: int, out: str) -> None:
    """The ten fixture tables, rows in a seeded order."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n = ROWS

    def shuffled(df: pd.DataFrame) -> pd.DataFrame:
        return df.iloc[rng.permutation(len(df))].reset_index(drop=True)

    tables = {
        "region": pd.DataFrame(
            {"r_regionkey": np.arange(5, dtype="int32"), "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}
        ),
        "nation": pd.DataFrame(
            {
                "n_nationkey": np.arange(25, dtype="int32"),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype("int32"),
            }
        ),
        "supplier": pd.DataFrame(
            {
                "s_suppkey": np.arange(n["supplier"], dtype="int64"),
                "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
                "s_nationkey": rng.integers(0, 25, n["supplier"]).astype("int32"),
                "s_acctbal": np.round(rng.uniform(-999, 9999, n["supplier"]), 2),
            }
        ),
        "customer": pd.DataFrame(
            {
                "c_custkey": np.arange(n["customer"], dtype="int64"),
                "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
                "c_nationkey": rng.integers(0, 25, n["customer"]).astype("int32"),
                "c_acctbal": np.round(rng.uniform(-999, 9999, n["customer"]), 2),
                "c_mktsegment": rng.choice(["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"], n["customer"]),
            }
        ),
        "part": pd.DataFrame(
            {
                "p_partkey": np.arange(n["part"], dtype="int64"),
                "p_name": [
                    f"{a} {b}"
                    for a, b in zip(
                        rng.choice(["small", "red", "blue", "hot", "old", "large", "green", "cold"], n["part"]),
                        rng.choice(["ring", "widget", "bolt", "gear", "gizmo", "plate", "nut", "spring"], n["part"]),
                    )
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
                "p_type": rng.choice(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"], n["part"]),
                "p_size": rng.integers(1, 51, n["part"]).astype("int32"),
                "p_retailprice": np.round(900 + (np.arange(n["part"]) % 1000) / 10.0, 2),
            }
        ),
        "orders": pd.DataFrame(
            {
                "o_orderkey": np.arange(n["orders"], dtype="int64"),
                "o_custkey": rng.integers(0, n["customer"], n["orders"]).astype("int64"),
                "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]),
                "o_totalprice": np.round(rng.uniform(1000, 500000, n["orders"]), 2),
                "o_orderdate": _day(rng, "1995-01-01", "2001-08-01", n["orders"]),
                "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n["orders"]),
            }
        ),
        "lineitem": pd.DataFrame(
            {
                "l_orderkey": rng.integers(0, n["orders"], n["lineitem"]).astype("int64"),
                "l_partkey": rng.integers(0, n["part"], n["lineitem"]).astype("int64"),
                "l_suppkey": rng.integers(0, n["supplier"], n["lineitem"]).astype("int64"),
                "l_linenumber": rng.integers(1, 8, n["lineitem"]).astype("int32"),
                "l_quantity": rng.integers(1, 51, n["lineitem"]).astype("float64"),
                "l_extendedprice": np.round(rng.uniform(900, 105000, n["lineitem"]), 2),
                "l_discount": rng.integers(0, 11, n["lineitem"]) / 100.0,
                "l_tax": rng.integers(0, 9, n["lineitem"]) / 100.0,
                "l_returnflag": rng.choice(["A", "N", "R"], n["lineitem"]),
                "l_linestatus": rng.choice(["F", "O"], n["lineitem"]),
                "l_shipdate": _day(rng, "1995-01-02", "2001-11-04", n["lineitem"]),
            }
        ),
    }
    ts = _T0 + np.sort(rng.integers(0, 30 * 24 * _US_PER_H, n["events"])).astype("timedelta64[us]")
    tables["events"] = _events(rng, np.arange(n["events"]), ts)
    tables["documents"] = _docs(rng, np.arange(n["documents"]))
    centers = rng.normal(0.0, 1.0, (10, DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    v, label = _vectors(rng, centers, n["embeddings"])
    tables["embeddings"] = _emb_frame(np.arange(n["embeddings"]), v, label)
    for name, df in tables.items():
        _write(shuffled(df), _SCHEMAS[name], os.path.join(out, f"{name}.parquet"))


def write_streams(seed: int, out: str) -> dict:
    """Chunk pools for the stream workload, plus what the checks need.

    events/: EVENT_CHUNKS chronological 12-hour slices of an event log.
      Rows inside a chunk are shuffled (out of order), DUP_PER_CHUNK rows
      repeat an event_id of their own chunk, and LATE_PER_CHUNK rows from
      the first 5 h of each chunk are held back into the next one, where
      they trail the persisted watermark (max ts - 1 h) by >= 6 h.
    emb/: id-ordered embeddings chunks; chunk 0 is larger so the first
      micro-batch can train the index's centroids.
    lake/: the lakehouse base table; meta.json holds the point lookups.
    queries/: k-NN query batches (jittered copies of corpus vectors).
    """
    rng = np.random.default_rng(seed + 1_000_003)
    meta: dict = {"late_ids": []}
    ev_dir, emb_dir = os.path.join(out, "events"), os.path.join(out, "emb")
    lake_dir, q_dir = os.path.join(out, "lake"), os.path.join(out, "queries")
    for d in (ev_dir, emb_dir, lake_dir, q_dir):
        os.makedirs(d, exist_ok=True)

    span = 12 * _US_PER_H
    held = None
    next_id = 0
    for c in range(EVENT_CHUNKS):
        lo = c * span
        ts = np.sort(rng.integers(lo, lo + span, EVENT_CHUNK_ROWS))
        ids = np.arange(next_id, next_id + EVENT_CHUNK_ROWS)
        next_id += EVENT_CHUNK_ROWS
        df = _events(rng, ids, ts)
        # hold back rows from the chunk's first half for the next chunk
        early = np.flatnonzero(ts < lo + span - 7 * _US_PER_H)
        late_rows = rng.choice(early, LATE_PER_CHUNK, replace=False) if c + 1 < EVENT_CHUNKS else []
        out_df = df.drop(index=late_rows)
        dups = out_df.iloc[rng.choice(len(out_df), DUP_PER_CHUNK, replace=False)]
        parts = [out_df, dups] + ([held] if held is not None else [])
        if held is not None:
            meta["late_ids"] += [int(i) for i in held["event_id"]]
        held = df.loc[late_rows] if len(late_rows) else None
        chunk = pd.concat(parts, ignore_index=True)
        chunk = chunk.iloc[rng.permutation(len(chunk))]
        _write(chunk, _EVENT_CHUNK_SCHEMA, os.path.join(ev_dir, f"chunk_{c:03d}.parquet"))

    centers = rng.normal(0.0, 1.0, (10, DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    next_id = 0
    for c in range(EMB_CHUNKS):
        n = EMB_FIRST_ROWS if c == 0 else EMB_CHUNK_ROWS
        v, label = _vectors(rng, centers, n)
        ids = np.arange(next_id, next_id + n)
        next_id += n
        _write(_emb_frame(ids, v, label), _SCHEMAS["embeddings"], os.path.join(emb_dir, f"chunk_{c:03d}.parquet"))
        if c == 0:
            base_v = v
    for b in range(QUERY_BATCHES):
        pick = rng.choice(len(base_v), QUERY_ROWS, replace=False)
        qv = base_v[pick] + rng.normal(0.0, 0.02, (QUERY_ROWS, DIM))
        qv = (qv / np.linalg.norm(qv, axis=1, keepdims=True)).astype("float32")
        q = pd.DataFrame({"q_id": np.arange(QUERY_ROWS, dtype="int64") + 10_000_000 + b * QUERY_ROWS, "embedding": list(qv)})
        _write(q, pa.schema([("q_id", pa.int64()), ("embedding", pa.list_(pa.float32()))]), os.path.join(q_dir, f"q_{b:03d}.parquet"))

    lake_schema = pa.schema([("k", pa.int64()), ("v", pa.float64()), ("tag", pa.string())])
    base = pd.DataFrame(
        {
            "k": np.arange(LAKE_ROWS, dtype="int64"),
            "v": np.round(rng.uniform(0, 1000, LAKE_ROWS), 3),
            "tag": rng.choice(["a", "b", "c"], LAKE_ROWS),
        }
    )
    _write(base, lake_schema, os.path.join(lake_dir, "base.parquet"))
    lookups = [[int(k) for k in rng.choice(LAKE_ROWS, LAKE_LOOKUPS, replace=False)] for _ in range(EVENT_CHUNKS)]
    meta["lookups"] = lookups
    with open(os.path.join(out, "meta.json"), "w") as fh:
        json.dump(meta, fh)
    return meta


def ensure(seed: int, root: str) -> str:
    """Write the inputs for ``seed`` under ``root`` once; later runs of
    the same seed reuse them.  Returns the seed's directory."""
    out = os.path.join(root, f"seed-{seed}")
    done = os.path.join(out, "_COMPLETE")
    if not os.path.exists(done):
        tmp = out + f".tmp-{os.getpid()}"
        write_tables(seed, os.path.join(tmp, "tables"))
        write_streams(seed, os.path.join(tmp, "streams"))
        open(os.path.join(tmp, "_COMPLETE"), "w").close()
        if os.path.isdir(out):
            import shutil

            shutil.rmtree(out)
        os.replace(tmp, out)
    return out
