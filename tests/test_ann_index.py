"""Persisted IVF index (operators/similarity.py::build_ivf_index):
build-once reuse and rebuild semantics.  Result parity of the serving
key vs the rebuild twin (and vs the DuckDB oracle) is covered by
test_oracle_parity.py::q_ann_ivf_serve."""

from __future__ import annotations

import os

import pytest

from processor_spark.operators.similarity import build_ivf_index
from tests.conftest import SF_SMALL


def _meta_mtime(path: str) -> float:
    return os.path.getmtime(os.path.join(path, "_INDEX_META.json"))


def test_index_build_is_idempotent(spark, tmp_path):
    path = str(tmp_path / "ivf")
    p1 = build_ivf_index(spark, SF_SMALL, path=path)
    t1 = _meta_mtime(p1)
    p2 = build_ivf_index(spark, SF_SMALL, path=path)
    assert p2 == p1
    assert _meta_mtime(p2) == t1, "second call must reuse, not rebuild"
    # layout contract: centroids + cell-partitioned assignments
    assert os.path.isdir(os.path.join(p1, "centroids"))
    cells = [
        d
        for d in os.listdir(os.path.join(p1, "assignments"))
        if d.startswith("cell=")
    ]
    assert len(cells) > 1, "assignments must be partitioned by cell"


def test_force_rebuilds(spark, tmp_path):
    path = str(tmp_path / "ivf")
    build_ivf_index(spark, SF_SMALL, path=path)
    t1 = _meta_mtime(path)
    build_ivf_index(spark, SF_SMALL, path=path, force=True)
    assert _meta_mtime(path) >= t1
    # a fresh marker exists and the index still has both halves
    assert os.path.isdir(os.path.join(path, "centroids"))
    assert os.path.isdir(os.path.join(path, "assignments"))


def test_pq_index_layout_and_idempotence(spark, tmp_path):
    from processor_spark.operators.similarity import build_pq_index

    path = str(tmp_path / "pq")
    p1 = build_pq_index(spark, SF_SMALL, path=path)
    t1 = _meta_mtime(p1)
    assert os.path.isdir(os.path.join(p1, "codebook"))
    assert os.path.isdir(os.path.join(p1, "codes"))
    assert build_pq_index(spark, SF_SMALL, path=path) == p1
    assert _meta_mtime(p1) == t1, "second call must reuse, not rebuild"
    # the code table is the compressed corpus: PQ_M rows per vector,
    # 3 small int columns, no float vectors anywhere
    codes = spark.read.parquet(os.path.join(p1, "codes"))
    assert set(codes.columns) == {"vec_id", "m", "cid"}


def test_graph_index_layout_and_idempotence(spark, tmp_path):
    from processor_spark.operators.similarity import build_graph_index

    path = str(tmp_path / "graph")
    p1 = build_graph_index(spark, SF_SMALL, path=path)
    t1 = _meta_mtime(p1)
    for part in ("edges", "buckets", "vectors"):
        assert os.path.isdir(os.path.join(p1, part))
    assert build_graph_index(spark, SF_SMALL, path=path) == p1
    assert _meta_mtime(p1) == t1, "second call must reuse, not rebuild"
    # degree bound: no src exceeds GRAPH_DEGREE out-edges
    from processor_spark.operators.similarity import GRAPH_DEGREE
    from pyspark.sql import functions as F

    edges = spark.read.parquet(os.path.join(p1, "edges"))
    mx = edges.groupBy("src").count().agg(F.max("count")).collect()[0][0]
    assert mx <= GRAPH_DEGREE


def test_stale_format_index_is_rebuilt(spark, tmp_path):
    """Indexes under /tmp survive code revisions; a meta without the
    current format version (older builder, corrupted file) must force
    a rebuild instead of serving stale bytes."""
    import json

    from processor_spark.operators.similarity import build_pq_index

    path = str(tmp_path / "pq")
    build_pq_index(spark, SF_SMALL, path=path)
    meta = os.path.join(path, "_INDEX_META.json")
    with open(meta) as fh:
        m = json.load(fh)
    m["fmt"] = -1  # simulate an older builder's output
    with open(meta, "w") as fh:
        json.dump(m, fh)
    t_stale = os.path.getmtime(meta)
    build_pq_index(spark, SF_SMALL, path=path)
    assert os.path.getmtime(meta) > t_stale, "stale-format index was reused"
    with open(meta) as fh:
        assert json.load(fh)["fmt"] != -1


def test_ivf_kmeans_index_layout_and_idempotence(spark, tmp_path):
    """r8: the trained-centroid IVF index follows the same contract —
    build once behind the marker, centroids + cell-partitioned
    assignments on disk, second call reuses."""
    from processor_spark.operators.similarity import build_ivf_kmeans_index

    path = str(tmp_path / "ivf_kmeans")
    p1 = build_ivf_kmeans_index(spark, SF_SMALL, path=path)
    t1 = _meta_mtime(p1)
    p2 = build_ivf_kmeans_index(spark, SF_SMALL, path=path)
    assert p2 == p1 and _meta_mtime(p2) == t1
    assert os.path.isdir(os.path.join(p1, "centroids"))
    cells = [
        d
        for d in os.listdir(os.path.join(p1, "assignments"))
        if d.startswith("cell=")
    ]
    assert len(cells) > 1, "assignments must be partitioned by cell"


def test_ivfpq_index_layout_and_idempotence(spark, tmp_path):
    """r10: the IVF-PQ composite index persists centroids + codebook +
    cell-partitioned codes behind the marker; a second build reuses,
    and a different-kind marker at the same path is NOT trusted."""
    import json

    from processor_spark.operators.similarity import build_ivfpq_index

    path = str(tmp_path / "ivfpq")
    p1 = build_ivfpq_index(spark, SF_SMALL, path=path)
    t1 = _meta_mtime(p1)
    p2 = build_ivfpq_index(spark, SF_SMALL, path=path)
    assert p2 == p1 and _meta_mtime(p2) == t1
    for sub in ("centroids", "codebook"):
        assert os.path.isdir(os.path.join(p1, sub))
    cells = [
        d for d in os.listdir(os.path.join(p1, "codes")) if d.startswith("cell=")
    ]
    assert len(cells) > 1, "codes must be partitioned by IVF cell"

    # a same-fmt marker of a DIFFERENT kind must trigger a rebuild
    meta = os.path.join(p1, "_INDEX_META.json")
    with open(meta) as fh:
        m = json.load(fh)
    m["kind"] = "pq"
    with open(meta, "w") as fh:
        json.dump(m, fh)
    build_ivfpq_index(spark, SF_SMALL, path=path)
    with open(meta) as fh:
        assert json.load(fh)["kind"] == "ivfpq"


def test_incremental_text_index_crash_mid_append_is_idempotent(spark, tmp_path):
    """r9: the generational append must be crash-safe — a retry after a
    crash at EITHER failure point (staging written but not renamed;
    gen=1 renamed but marker not yet bumped) wipes the unadvertised
    partial state and converges to the same two-generation index."""
    import json

    from processor_spark.operators.text import build_text_index_incremental

    path = str(tmp_path / "text_incr")
    p1 = build_text_index_incremental(spark, SF_SMALL, path=path)
    meta_path = os.path.join(p1, "_INDEX_META.json")
    with open(meta_path) as fh:
        done = json.load(fh)
    assert done["gens"] == 2
    gen1 = os.path.join(p1, "postings", "gen=1")
    n_files = sorted(os.listdir(gen1))

    # the delta's stats, computed independently of the builder, so the
    # retry's stat arithmetic (marker base + recomputed delta) is
    # asserted exactly rather than just "gens bumped" (ADVICE r9)
    from processor_spark.operators.text import _postings_frame
    from processor_spark.sources.fixtures import load
    from pyspark.sql import functions as F

    _, dl = _postings_frame(
        load(spark, SF_SMALL, "documents").where(F.col("doc_id") % 10 == 0)
    )
    drow = dl.agg(
        F.count(F.lit(1)).alias("n"), F.coalesce(F.sum("dl"), F.lit(0)).alias("t")
    ).collect()[0]
    delta_docs, delta_toks = drow.n, drow.t

    # crash point A: gen=1 fully renamed, marker still gens=1 (the
    # append's os.replace(meta) never ran) — gen=1 is unadvertised.
    # Sabotage the base stats too: the retry must add the recomputed
    # delta onto exactly what the marker advertises (1, 1)
    with open(meta_path, "w") as fh:
        json.dump({**done, "gens": 1, "n_docs": 1, "tot_toks": 1}, fh)
    # sabotage the partial gen so we can prove it was wiped, not reused
    with open(os.path.join(gen1, "JUNK.parquet"), "w") as fh:
        fh.write("not parquet")
    p2 = build_text_index_incremental(spark, SF_SMALL, path=path)
    assert p2 == p1
    with open(meta_path) as fh:
        redo = json.load(fh)
    # retry redid the append from the delta: same layout, junk gone,
    # and the stats are marker-base + recomputed-delta, nothing else
    assert not os.path.exists(os.path.join(gen1, "JUNK.parquet"))
    assert sorted(os.listdir(gen1)) == n_files
    assert redo["gens"] == 2
    assert redo["n_docs"] == 1 + delta_docs
    assert redo["tot_toks"] == 1 + delta_toks

    # crash point B: staging dir written, rename never happened — the
    # marker still carries the REAL base (gen-0) stats, so the retry
    # must converge to exactly the original completed marker
    with open(meta_path, "w") as fh:
        json.dump(
            {
                **done,
                "gens": 1,
                "n_docs": done["n_docs"] - delta_docs,
                "tot_toks": done["tot_toks"] - delta_toks,
            },
            fh,
        )
    stage = os.path.join(p1, ".stage-gen1")
    os.makedirs(stage, exist_ok=True)
    with open(os.path.join(stage, "partial"), "w") as fh:
        fh.write("x")
    build_text_index_incremental(spark, SF_SMALL, path=path)
    assert not os.path.exists(stage)
    with open(meta_path) as fh:
        redo_b = json.load(fh)
    assert redo_b == done, "crash-B retry must reproduce the completed marker"

    # and a completed index is a no-op (marker mtime unchanged)
    t1 = os.path.getmtime(meta_path)
    build_text_index_incremental(spark, SF_SMALL, path=path)
    assert os.path.getmtime(meta_path) == t1


def test_ivf_append_index_crash_mid_append_is_idempotent(spark, tmp_path):
    """r10: the generational IVF append must be crash-safe at both
    failure points (staging written but not renamed; gen=1 renamed but
    marker not bumped) — a retry wipes the unadvertised partial state
    and converges to the same two-generation index, and centroids stay
    FROZEN across the append (byte-identical to the base build's)."""
    import json

    from processor_spark.operators.similarity import build_ivf_append_index

    path = str(tmp_path / "ivf_append")
    p1 = build_ivf_append_index(spark, SF_SMALL, path=path)
    meta_path = os.path.join(p1, "_INDEX_META.json")
    with open(meta_path) as fh:
        done = json.load(fh)
    assert done["gens"] == 2
    for g in (0, 1):
        cells = [
            d
            for d in os.listdir(os.path.join(p1, "assignments", f"gen={g}"))
            if d.startswith("cell=")
        ]
        assert cells, f"gen={g} must hold cell-partitioned assignments"
    cents_before = sorted(
        r.cid for r in spark.read.parquet(os.path.join(p1, "centroids")).collect()
    )
    gen1 = os.path.join(p1, "assignments", "gen=1")
    n_entries = sorted(os.listdir(gen1))

    # crash point A: gen=1 renamed, marker still gens=1 — unadvertised
    with open(meta_path, "w") as fh:
        json.dump({**done, "gens": 1}, fh)
    with open(os.path.join(gen1, "JUNK.parquet"), "w") as fh:
        fh.write("not parquet")
    p2 = build_ivf_append_index(spark, SF_SMALL, path=path)
    assert p2 == p1
    assert not os.path.exists(os.path.join(gen1, "JUNK.parquet"))
    assert sorted(os.listdir(gen1)) == n_entries
    with open(meta_path) as fh:
        assert json.load(fh) == done

    # crash point B: staging written, rename never happened
    with open(meta_path, "w") as fh:
        json.dump({**done, "gens": 1}, fh)
    stage = os.path.join(p1, ".stage-gen1")
    os.makedirs(stage, exist_ok=True)
    with open(os.path.join(stage, "partial"), "w") as fh:
        fh.write("x")
    build_ivf_append_index(spark, SF_SMALL, path=path)
    assert not os.path.exists(stage)
    with open(meta_path) as fh:
        assert json.load(fh) == done

    # centroids were never retrained by the appends
    cents_after = sorted(
        r.cid for r in spark.read.parquet(os.path.join(p1, "centroids")).collect()
    )
    assert cents_after == cents_before

    # completed index is a no-op (marker mtime unchanged)
    t1 = os.path.getmtime(meta_path)
    build_ivf_append_index(spark, SF_SMALL, path=path)
    assert os.path.getmtime(meta_path) == t1


def test_ivf_append_compaction_preserves_results(spark, tmp_path):
    """r10: folding the generations into one gen=0 must not change a
    single served row (same frozen-centroid assignment set), must
    leave a single-generation layout, and must be idempotent."""
    import json

    from processor_spark.operators.similarity import (
        build_ivf_append_index,
        compact_ivf_append_index,
        q_ann_ivf_append,
    )

    path = str(tmp_path / "ivf_append")
    build_ivf_append_index(spark, SF_SMALL, path=path)

    def served():
        import processor_spark.operators.similarity as S
        import os as _os
        # route the registered key at this explicit path by calling the
        # builder first (idempotent), then reproducing its serve read
        return sorted(
            tuple(r) for r in q_ann_ivf_append.__wrapped__(spark, SF_SMALL).collect()
        )

    # default-path index must also exist for the registered key; build
    # the explicit-path twin and compare ITS layout level instead
    before = served()
    compact_ivf_append_index(spark, SF_SMALL, path=path)
    gens = sorted(
        d
        for d in os.listdir(os.path.join(path, "assignments"))
        if d.startswith("gen=")
    )
    assert gens == ["gen=0"], gens
    with open(os.path.join(path, "_INDEX_META.json")) as fh:
        meta = json.load(fh)
    assert meta["compacted"] is True and meta["gens"] == 2

    # the merged gen=0 holds base + delta rows exactly once
    merged = spark.read.parquet(os.path.join(path, "assignments", "gen=0"))
    from processor_spark.sources import load as _load

    n_all = _load(spark, SF_SMALL, "embeddings").count()
    assert merged.count() == n_all
    assert merged.select("vec_id").distinct().count() == n_all

    # idempotent: second compaction is a no-op (marker mtime unchanged)
    t1 = os.path.getmtime(os.path.join(path, "_INDEX_META.json"))
    compact_ivf_append_index(spark, SF_SMALL, path=path)
    assert os.path.getmtime(os.path.join(path, "_INDEX_META.json")) == t1

    # compact the DEFAULT-path index too and assert the registered key
    # serves identical rows from the single-generation layout
    compact_ivf_append_index(spark, SF_SMALL)
    after = served()
    assert after == before and len(after) > 0


def test_compaction_heals_interrupted_swap(spark, tmp_path):
    """ADVICE r10: the compaction swap is two renames; a crash between
    them leaves NO assignments root and a complete .old-* survivor —
    serving breaks with no self-heal.  heal_swapped_root on entry must
    rename the survivor back, and a retried compaction must produce
    the same layout as an uninterrupted one."""
    import json

    from processor_spark.operators.similarity import (
        build_ivf_append_index,
        compact_ivf_append_index,
        heal_swapped_root,
    )

    path = str(tmp_path / "ivf_append")
    build_ivf_append_index(spark, SF_SMALL, path=path)
    root = os.path.join(path, "assignments")

    # simulate the crash window: first rename done, second never ran
    os.replace(root, root + ".old-deadbeef")
    assert not os.path.isdir(root)

    compact_ivf_append_index(spark, SF_SMALL, path=path)  # self-heals
    gens = sorted(d for d in os.listdir(root) if d.startswith("gen="))
    assert gens == ["gen=0"], gens
    with open(os.path.join(path, "_INDEX_META.json")) as fh:
        assert json.load(fh)["compacted"] is True

    # two survivors = two interrupted compactions: refuse, don't guess
    os.replace(root, root + ".old-aaaa")
    os.makedirs(root + ".old-bbbb")
    try:
        heal_swapped_root(root)
        raised = False
    except RuntimeError:
        raised = True
    assert raised


def test_ivf_append_serve_heals_interrupted_swap(spark, tmp_path, monkeypatch):
    """A compaction that crashed between its two renames leaves the
    append index with no assignments root and one ``.old-*`` survivor.
    The serve heals the root on entry and answers as the unbroken
    index does."""
    import processor_spark.operators.similarity as S

    monkeypatch.setattr(S, "ANN_INDEX_ROOT", str(tmp_path))
    want = sorted(tuple(r) for r in S.q_ann_ivf_append.__wrapped__(spark, SF_SMALL).collect())
    root = os.path.join(str(tmp_path), os.path.basename(SF_SMALL), "ivf_append", "assignments")
    os.replace(root, root + ".old-0123abcd")
    got = sorted(tuple(r) for r in S.q_ann_ivf_append.__wrapped__(spark, SF_SMALL).collect())
    assert got == want and want
    assert os.path.isdir(root) and not os.path.exists(root + ".old-0123abcd")


@pytest.mark.parametrize("key", ["q_ann_ivf_append", "q_ann_ivf_kmeans_serve", "q_ann_filtered_serve"])
def test_ivf_serve_key_job_budget(spark, key):
    """A persisted-index serve key is one narrow map over its query
    batch: on a warm index, Engine.run(key), with the builder's eager
    checks, plus toPandas() runs one Spark job, and the executed plan
    holds no exchange.  Counted with the DAG scheduler's job counter
    at sf0.01."""
    from processor_spark.api import Engine

    eng = Engine(spark, os.path.join(os.path.dirname(SF_SMALL), "sf0.01"))
    eng.run(key).toPandas()  # builds the index if it is missing
    next_job = spark.sparkContext._jsc.sc().dagScheduler().nextJobId
    j0 = next_job()
    df = eng.run(key)
    df.toPandas()
    assert next_job() - j0 == 1
    assert "Exchange" not in df._jdf.queryExecution().executedPlan().toString()


def test_write_partitioned_emits_one_file_per_directory(spark, tmp_path):
    """r13: a raw partitionBy write lets EVERY write task emit a file
    into every directory it holds rows for (56,161 files for 128k rows
    at the 64x layout — full-index readers went file-open-bound);
    write_partitioned must cluster first so each directory is exactly
    one task's output = one parquet file."""
    import os

    from pyspark.sql import functions as F

    from processor_spark.operators.similarity import write_partitioned

    df = spark.range(2000).select(
        F.col("id").alias("vec_id"), (F.col("id") % 16).alias("cell")
    ).repartition(8)  # pathological input partitioning
    out = str(tmp_path / "assign")
    write_partitioned(df, out, "cell")
    for d in os.listdir(out):
        if not d.startswith("cell="):
            continue
        files = [f for f in os.listdir(os.path.join(out, d)) if f.endswith(".parquet")]
        assert len(files) == 1, (d, files)
    # and nothing was lost
    assert spark.read.parquet(out).count() == 2000


def _partitioned_layout(spark, out, col):
    """(sorted rows read back — the partition column comes last —,
    files per ``col=`` dir) of a partitionBy output."""
    files = [
        len([f for f in os.listdir(os.path.join(out, d)) if f.endswith(".parquet")])
        for d in os.listdir(out)
        if d.startswith(f"{col}=")
    ]
    rows = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    return rows, files


def test_write_partitioned_one_partition_rule(spark, tmp_path):
    """write_partitioned's job budget and layout, counted with the DAG
    scheduler's job counter.  A one-partition frame with no exchange in
    its plan is written as is: ONE job and still one file per dir.  A
    multi-partition frame, an aggregated frame and a broadcast-joined
    frame pay exactly what repartition + write pays — reading the
    partition count never runs their upstream stages eagerly.  Every
    path writes the frame's rows."""
    from pyspark.sql import functions as F

    from processor_spark.operators.similarity import write_partitioned

    next_job = spark.sparkContext._jsc.sc().dagScheduler().nextJobId
    src = str(tmp_path / "one.parquet")
    spark.range(20000).select(
        F.col("id").alias("vec_id"), (F.col("id") % 8).alias("cell")
    ).coalesce(1).write.parquet(src)
    one = spark.read.parquet(src)
    assert one.rdd.getNumPartitions() == 1
    frames = {
        "one_partition": one,
        "four_partitions": spark.range(0, 20000, 1, 4).select(
            F.col("id").alias("vec_id"), (F.col("id") % 8).alias("cell")
        ),
        "aggregate": one.groupBy((F.col("vec_id") % 97).alias("vec_id")).agg(
            F.max("cell").alias("cell")
        ),
        # an aggregated build side: an eager partition count would run
        # its two jobs (shuffle, broadcast) once more than the
        # repartition it saves
        "broadcast_join": one.join(
            F.broadcast(one.groupBy((F.col("vec_id") % 500).alias("vec_id")).count()),
            "vec_id",
        ).select("vec_id", "cell"),
    }
    for name, df in frames.items():
        want = sorted(tuple(r) for r in df.select("vec_id", "cell").collect())
        ref = str(tmp_path / f"{name}_repartition")
        j0 = next_job()
        df.repartition("cell").write.partitionBy("cell").parquet(ref)
        ref_jobs = next_job() - j0
        out = str(tmp_path / name)
        j0 = next_job()
        write_partitioned(df, out, "cell")
        jobs = next_job() - j0
        if name == "one_partition":
            assert (jobs, ref_jobs) == (1, 2), name
        else:
            assert jobs == ref_jobs, (name, jobs, ref_jobs)
        rows, files = _partitioned_layout(spark, out, "cell")
        assert files and set(files) == {1}, (name, files)
        assert rows == _partitioned_layout(spark, ref, "cell")[0], name
        assert rows == want, name
