"""The benchmark's workloads: op types, set-up, and output checks.

A workload exposes ``types`` (the op rotation), ``setup()``, ``op(type)``
and ``check()``.  ``op`` returns the input rows the op consumed and keeps
whatever output the check needs; it never checks inside the timed call.
Every call goes through the program's public functions only:
``api.Engine`` and ``registry`` for collections, ``streaming.pipelines``
and ``sources.lakehouse`` for streams.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import shutil

import numpy as np
import pandas as pd

from processor_spark import registry
from processor_spark.sources import TABLES

# Registered keys timed by ``collections``: three stage-bound relational
# keys and three LLM-data keys.  Heavier keys (q_join_5way,
# q_dedup_clusters, q_semdedup_clusters, q_ann_graph,
# q_ann_ivfpq_res_recall) do not fit the run budget; see README.md.
COLLECTION_KEYS = [
    "q_pricing_summary",
    "q_window_rank",
    "q_grouping_sets",
    "q_dedup_minhash_md5",
    "q_phrase_search",
    "q_corpus_mixture",
]


class Collections:
    """Registered batch keys, each op ``Engine.run(key).toPandas()``."""

    def __init__(self, eng, tables_dir: str, work_dir: str) -> None:
        self.eng = eng
        self.tables_dir = tables_dir
        self.types = list(COLLECTION_KEYS)
        self.outputs: dict[str, list[pd.DataFrame]] = {k: [] for k in self.types}
        self.rows = self._input_rows()

    def _input_rows(self) -> dict[str, int]:
        """Rows of every table a key's oracle SQL names: the key's input."""
        import pyarrow.parquet as pq

        n = {t: pq.ParquetFile(os.path.join(self.tables_dir, f"{t}.parquet")).metadata.num_rows for t in TABLES}
        sql = registry.oracle_sql()
        return {k: sum(n[t] for t in TABLES if re.search(rf"\b{t}\b", sql[k])) for k in self.types}

    def setup(self) -> None:
        pass

    def op(self, key: str, tracer=None) -> int:
        with _span(tracer, "registry.build", key):
            df = self.eng.run(key)
        with _span(tracer, "operators.exec", key):
            pdf = df.toPandas()
        self.outputs[key].append(pdf)
        return self.rows[key]

    def check(self) -> dict[str, str]:
        """Compare every output of each key with its DuckDB oracle on the
        same files, as the parity suite's canonical rows."""
        from tests.oracle_utils import canonical_rows, run_oracle

        sql = registry.oracle_sql()
        bad = {}
        for key, outs in self.outputs.items():
            if not outs:
                continue
            want = run_oracle(sql[key], self.tables_dir)
            cols, rows = sorted(want.columns), canonical_rows(want)
            if any(sorted(o.columns) != cols or canonical_rows(o) != rows for o in outs):
                bad[key] = "differs from the DuckDB oracle"
        return bad


class _Feed:
    """A chunk pool and the input directory its chunks land in, one per op."""

    def __init__(self, pool: str, into: str) -> None:
        self.files = sorted(f for f in os.listdir(pool) if f.endswith(".parquet"))
        self.pool, self.into, self.next = pool, into, 0
        os.makedirs(into, exist_ok=True)

    def land(self) -> str:
        if self.next >= len(self.files):
            raise PoolExhausted(self.pool)
        f = self.files[self.next]
        shutil.copyfile(os.path.join(self.pool, f), os.path.join(self.into, f))
        self.next += 1
        return f

    def landed(self) -> list[str]:
        return [os.path.join(self.into, f) for f in self.files[: self.next]]


class PoolExhausted(RuntimeError):
    """Every chunk of a pool has landed; the pass cannot continue."""


class Streams:
    """An event stream with deduplication state, a stream-maintained IVF
    index and a lakehouse table.  Every write op lands one new chunk and
    resumes a checkpointed availableNow drain, so each op is one
    micro-batch on growing state; reads serve from what the writes built,
    so an IVF serve opens one more index generation each round."""

    types = ["dedup", "ivf_ingest", "lake_read", "ivf_serve"]

    def __init__(self, eng, streams_dir: str, work_dir: str) -> None:
        from processor_spark.streaming import pipelines as P

        self.P = P
        self.eng, self.spark = eng, eng.spark
        self.src, self.work = streams_dir, work_dir
        with open(os.path.join(streams_dir, "meta.json")) as fh:
            self.meta = json.load(fh)
        self.events = _Feed(os.path.join(streams_dir, "events"), os.path.join(work_dir, "events", "in"))
        self.emb = _Feed(os.path.join(streams_dir, "emb"), os.path.join(work_dir, "ivf", "in"))
        self.dedup_out: list[pd.DataFrame] = []
        self.serves: list[tuple[int, int, pd.DataFrame]] = []  # (query batch, chunks ingested, result)
        self.reads: list[tuple[list, pd.DataFrame]] = []
        self.ivf_path = os.path.join(work_dir, "ivf", "index")
        self.lake = eng.table(os.path.join(work_dir, "lake", "table"))
        self.queries = sorted(os.listdir(os.path.join(streams_dir, "queries")))
        self.n_serve = self.n_read = 0

    def setup(self) -> None:
        """Create the lakehouse table and build the IVF index from the
        first embeddings chunk, which trains its frozen centroids."""
        base = self.spark.read.parquet(os.path.join(self.src, "lake", "base.parquet"))
        self.lake.create(self.spark, base, key="k", num_buckets=8)
        self._ingest()

    def op(self, typ: str, tracer=None) -> int:
        return getattr(self, f"_op_{typ}")(tracer)

    def _ingest(self) -> int:
        f = self.emb.land()
        self.P.stream_ivf_ingest(self.spark, self.emb.into, self.ivf_path, os.path.join(self.work, "ivf", "ckpt"))
        return _rows(os.path.join(self.emb.into, f))

    def _op_dedup(self, tracer) -> int:
        f = self.events.land()

        def sink(batch_df, batch_id):
            self.dedup_out.append(batch_df.toPandas())

        with _span(tracer, "streaming.drain", "dedup"):
            stream = self.eng.event_stream(self.events.into)
            self.P.run_foreach_batch_ckpt(
                self.P.dedup_events(stream), sink, os.path.join(self.work, "events", "ckpt"), output_mode="append"
            )
        return _rows(os.path.join(self.events.into, f))

    def _op_ivf_ingest(self, tracer) -> int:
        with _span(tracer, "streaming.drain", "ivf_ingest"):
            return self._ingest()

    def _query_df(self, qi: int):
        from processor_spark.operators.similarity import _micro_arr

        path = os.path.join(self.src, "queries", self.queries[qi])
        return self.spark.read.parquet(path).select("q_id", _micro_arr("embedding").alias("qm"))

    def _op_ivf_serve(self, tracer) -> int:
        qi = self.n_serve % len(self.queries)
        qdf = self._query_df(qi)
        with _span(tracer, "streaming.serve", "ivf_serve"):
            df = self.P.serve_ivf_stream_index(self.spark, self.ivf_path, qdf)
        with _span(tracer, "operators.exec", "ivf_serve"):
            pdf = df.toPandas()
        self.serves.append((qi, self.emb.next, pdf))
        self.n_serve += 1
        return _rows(os.path.join(self.src, "queries", self.queries[qi]))

    def _op_lake_read(self, tracer) -> int:
        keys = self.meta["lookups"][self.n_read % len(self.meta["lookups"])]
        with _span(tracer, "lakehouse.read_keys", "lake"):
            pdf = self.lake.read_keys(self.spark, keys).toPandas()
        self.reads.append((keys, pdf))
        self.n_read += 1
        return len(keys)

    # -- checks -------------------------------------------------------------
    def check(self) -> dict[str, str]:
        """The streamed dedup against its batch twin, every IVF serve
        against a numpy twin, and every lakehouse read against the base
        rows."""
        bad = {}
        for typ, fn in (("dedup", self._check_dedup), ("ivf_serve", self._check_ivf), ("lake_read", self._check_lake)):
            msg = fn()
            if msg:
                bad[typ] = msg
        return bad

    def _check_dedup(self) -> str | None:
        files = self.events.landed()
        if not files:
            return None
        raw = pd.concat([pd.read_parquet(f, columns=["event_id"]) for f in files], ignore_index=True)
        # a held-back row is dropped once an earlier micro-batch has moved
        # the watermark past it, which never happens in the first chunk
        first = set(pd.read_parquet(files[0], columns=["event_id"])["event_id"])
        late = set(self.meta["late_ids"]) - first
        want = sorted(set(raw["event_id"]) - late)
        got = sorted(pd.concat(self.dedup_out, ignore_index=True)["event_id"]) if self.dedup_out else []
        return None if got == want else f"{len(got)} deduplicated ids, batch twin has {len(want)}"

    def _check_ivf(self) -> str | None:
        """Every IVF serve against an independent numpy twin of the same
        search over the vectors ingested before it, under the index's
        frozen centroids: exact integer micro-unit distances, each vector
        in its nearest cell, each query probing its IVF_NPROBE nearest
        cells, KNN_K nearest by (distance, id)."""
        from processor_spark.operators.similarity import IVF_NPROBE, KNN_K

        cents = pd.read_parquet(os.path.join(self.ivf_path, "centroids"))
        cids = cents["cid"].to_numpy()
        c_m = np.stack(cents["cm"].to_list()).astype(np.int64)
        for qi, at, got in self.serves:
            vecs = pd.concat([pd.read_parquet(f) for f in self.emb.landed()[:at]], ignore_index=True)
            ids, v_m = vecs["vec_id"].to_numpy(), _micro(vecs["embedding"])
            q = pd.read_parquet(os.path.join(self.src, "queries", self.queries[qi]))
            cell = np.array([min(zip(row, cids))[1] for row in _sqdist(v_m, c_m)])
            want = []
            for q_id, qd, qv in zip(q["q_id"], _sqdist(_micro(q["embedding"]), c_m), _micro(q["embedding"])):
                probed = [c for _, c in sorted(zip(qd, cids))[:IVF_NPROBE]]
                cand = np.flatnonzero(np.isin(cell, probed) & (ids != q_id))
                d = _sqdist(qv[None, :], v_m[cand])[0]
                best = sorted(zip(d.tolist(), ids[cand].tolist()))[:KNN_K]
                want += [(int(q_id), n, sq, r + 1) for r, (sq, n) in enumerate(best)]
            rows = sorted(zip(*(got[c].astype("int64").tolist() for c in ("q_id", "neighbor_id", "sq_micro2", "rank"))))
            if not want or rows != sorted(want):
                return "served neighbours differ from the numpy twin"
        return None

    def _check_lake(self) -> str | None:
        base = pd.read_parquet(os.path.join(self.src, "lake", "base.parquet")).set_index("k")
        for keys, pdf in self.reads:
            want = sorted((k, base.at[k, "v"], base.at[k, "tag"]) for k in keys)
            got = sorted((int(r.k), r.v, r.tag) for r in pdf.itertuples())
            if got != want:
                return "read_keys differs from the table's rows"
        return None


def _micro(emb: pd.Series) -> np.ndarray:
    """similarity._micro_arr in numpy: floor((x + 2) * 1e6 + 0.5) in double."""
    return np.floor((np.stack(emb.to_list()).astype(np.float64) + 2.0) * 1e6 + 0.5).astype(np.int64)


def _sqdist(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Exact integer squared distances, rows of ``a`` against rows of ``b``."""
    return ((a[:, None, :] - b[None, :, :]) ** 2).sum(axis=2)


def _rows(path: str) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_rows


def _span(tracer, name: str, label: str):
    return contextlib.nullcontext() if tracer is None else tracer.span(name, label)
