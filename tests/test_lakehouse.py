"""Lakehouse table format (sources/lakehouse.py): ACID semantics the
oracle hash can't see — snapshot isolation, commit atomicity, bucket
pruning, time travel, conflict detection.  The relational correctness
of the MERGE result itself is covered by q_merge_snapshot /
q_time_travel in the parity suite; these tests pin the STORAGE
behaviors."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from processor_spark.sources.lakehouse import CommitConflict, LakeTable


def _mk(spark, rows, schema="k bigint, v string"):
    return spark.createDataFrame(rows, schema)


@pytest.fixture()
def table(tmp_path, spark):
    t = LakeTable(str(tmp_path / "t"))
    t.create(
        spark,
        _mk(spark, [(i, f"v{i}") for i in range(100)]),
        key="k",
        num_buckets=8,
    )
    return t


def _as_dict(df):
    return {r.k: r.v for r in df.collect()}


def test_create_read_roundtrip(table, spark):
    assert _as_dict(table.read(spark)) == {i: f"v{i}" for i in range(100)}
    m = table.manifest()
    assert m["version"] == 1 and m["operation"] == "create"
    assert m["total_rows"] == 100


def test_merge_update_insert_delete(table, spark):
    src = _mk(
        spark,
        [(5, "UPDATED", False), (200, "INSERTED", False), (7, None, True)],
        "k bigint, v string, del boolean",
    )
    v = table.merge(spark, src, delete_col="del")
    assert v == 2
    got = _as_dict(table.read(spark))
    assert got[5] == "UPDATED"
    assert got[200] == "INSERTED"
    assert 7 not in got
    assert len(got) == 100  # 100 - 1 delete + 1 insert
    assert table.manifest()["total_rows"] == 100


def test_time_travel_reads_pre_merge_state(table, spark):
    table.merge(spark, _mk(spark, [(5, "UPDATED")]), delete_col=None)
    old = _as_dict(table.read(spark, version=1))
    assert old[5] == "v5"
    new = _as_dict(table.read(spark, version=2))
    assert new[5] == "UPDATED"
    assert [h["operation"] for h in table.history()] == ["create", "merge"]


def test_snapshot_isolation_for_open_readers(table, spark):
    """A DataFrame planned before a merge commit keeps serving the old
    snapshot afterwards: manifests name immutable files, and the merge
    writes NEW files instead of mutating referenced ones."""
    reader = table.read(spark)  # pins v1's file list at plan time
    table.merge(spark, _mk(spark, [(5, "UPDATED")]))
    assert _as_dict(reader)[5] == "v5"


def test_merge_rewrites_only_touched_buckets(table, spark):
    m1 = table.manifest()
    table.merge(spark, _mk(spark, [(16, "UPDATED")]))  # bucket 16 % 8 = 0
    m2 = table.manifest()
    assert m2["buckets"]["0"] != m1["buckets"]["0"]
    for b in m1["buckets"]:
        if b != "0":
            assert m2["buckets"][b] == m1["buckets"][b], (
                f"untouched bucket {b} was rewritten"
            )


def test_commit_conflict_on_concurrent_writer(table, spark):
    """Optimistic concurrency: two writers race from parent v1; the
    one that publishes v2 second must fail loudly (exclusive manifest
    create IS the commit), never silently clobber.  The race window is
    between the parent-manifest read and _commit, so the primitive is
    exercised directly."""
    m1 = table.manifest()
    with open(table._manifest_path(2), "x") as fh:  # competitor wins
        json.dump({**m1, "version": 2, "parent": 1}, fh)
    with pytest.raises(CommitConflict):
        table._commit({**m1, "version": 2, "parent": 1})
    # a retry from the NEW current version succeeds
    v = table.merge(spark, _mk(spark, [(5, "UPDATED")]))
    assert v == 3


def test_append_carries_all_buckets_forward(table, spark):
    m1 = table.manifest()
    v = table.append(spark, _mk(spark, [(1000 + i, "a") for i in range(10)]))
    m2 = table.manifest(v)
    assert m2["total_rows"] == 110
    for b, ps in m1["buckets"].items():
        assert set(ps) <= set(m2["buckets"][b]), "append dropped old files"
    assert table.read(spark).count() == 110


def test_insert_into_empty_bucket(tmp_path, spark):
    """Inserts whose bucket has no prior files create the bucket rather
    than being lost in carry-forward bookkeeping."""
    t = LakeTable(str(tmp_path / "t2"))
    t.create(spark, _mk(spark, [(0, "a"), (8, "b")]), key="k", num_buckets=8)
    assert set(t.manifest()["buckets"]) == {"0"}
    t.merge(spark, _mk(spark, [(3, "c")]))
    got = _as_dict(t.read(spark))
    assert got == {0: "a", 8: "b", 3: "c"}
    assert set(t.manifest()["buckets"]) == {"0", "3"}


def test_overwrite_create_replaces_table(table, spark, tmp_path):
    table.create(
        spark, _mk(spark, [(1, "fresh")]), key="k", mode="overwrite"
    )
    assert _as_dict(table.read(spark)) == {1: "fresh"}
    assert table.versions() == [1]


def test_create_without_overwrite_refuses(table, spark):
    with pytest.raises(FileExistsError):
        table.create(spark, _mk(spark, [(1, "x")]), key="k")


def test_delete_key_absent_from_target_is_noop(table, spark):
    v = table.merge(
        spark,
        _mk(spark, [(9999, None, True)], "k bigint, v string, del boolean"),
        delete_col="del",
    )
    assert table.manifest(v)["total_rows"] == 100
    assert len(_as_dict(table.read(spark))) == 100


def test_optimize_compacts_multi_dir_buckets(table, spark):
    table.append(spark, _mk(spark, [(200 + i, "a") for i in range(8)]))
    table.append(spark, _mk(spark, [(300 + i, "b") for i in range(8)]))
    before = table.read(spark)
    multi = {b for b, ps in table.manifest()["buckets"].items() if len(ps) > 1}
    assert multi, "appends should have produced multi-dir buckets"
    v = table.optimize(spark)
    m = table.manifest(v)
    assert m["operation"] == "optimize"
    assert all(len(ps) == 1 for ps in m["buckets"].values())
    assert m["total_rows"] == 116
    assert _as_dict(table.read(spark)) == _as_dict(before)


def test_optimize_noop_when_all_single_dir(table, spark):
    assert table.optimize(spark) == 1  # no new snapshot committed
    assert table.versions() == [1]


def test_expire_snapshots_vacuums_unreferenced_dirs(table, spark, tmp_path):
    import os

    table.merge(spark, _mk(spark, [(5, "U1")]))
    table.merge(spark, _mk(spark, [(5, "U2")]))
    res = table.expire_snapshots(keep_last=1)
    assert res["removed_snapshots"] == [1, 2]
    assert table.versions() == [3]
    assert res["removed_dirs"] >= 1
    # current snapshot still fully readable; expired one is gone
    got = _as_dict(table.read(spark))
    assert got[5] == "U2" and len(got) == 100
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        table.manifest(1)
    # every retained referenced dir still exists on disk
    for ps in table.manifest()["buckets"].values():
        for p in ps:
            assert os.path.isdir(p)


def test_merge_stream_applies_cdc_batches_in_order(table, spark, tmp_path):
    """Chunked CDC feed -> foreachBatch MERGE: later batches win per
    key, deletes apply, and the final table equals the sequential
    batch application."""
    import os

    feed = str(tmp_path / "feed")
    os.makedirs(feed)
    schema = "k bigint, v string, del boolean, seq bigint"
    # chunk 1: update k=1, insert k=500; chunk 2: delete k=1, two
    # updates to k=2 in ONE batch (seq picks the later), update k=500
    _mk(spark, [(1, "U1", False, 1), (500, "I1", False, 2)], schema).coalesce(
        1
    ).write.mode("overwrite").parquet(feed + "/c1")
    _mk(
        spark,
        [(1, None, True, 3), (2, "U2a", False, 4), (2, "U2b", False, 5), (500, "I2", False, 6)],
        schema,
    ).coalesce(1).write.mode("overwrite").parquet(feed + "/c2")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed + "/c*")
    )
    table.merge_stream(
        stream,
        checkpoint=str(tmp_path / "ckpt"),
        delete_col="del",
        seq_col="seq",
    )
    got = _as_dict(table.read(spark))
    assert 1 not in got
    assert got[2] == "U2b"
    assert got[500] == "I2"
    assert len(got) == 100  # 100 - {1} + {500}
    ops = [h["operation"] for h in table.history()]
    assert ops.count("merge") >= 1


def test_merge_stream_timeout_raises_and_resumes(table, spark, tmp_path, monkeypatch):
    """merge_stream drains through the engine's one availableNow path:
    a drain still active at timeout_s raises (it used to stop the
    query and return as if complete), and a re-call on the same
    checkpoint resumes and applies every CDC batch."""
    import time as _t

    import pandas as pd

    feed = tmp_path / "feed"
    feed.mkdir()
    for i in range(3):
        pd.DataFrame({"k": [i], "v": [f"U{i}"]}).to_parquet(feed / f"c{i}.parquet", index=False)
    stream = (
        spark.readStream.schema("k bigint, v string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(feed))
    )
    merge = LakeTable.merge
    applied: list[int] = []

    def slow_merge(self, spark_, source, **kw):
        applied.extend(r.k for r in source.collect())
        _t.sleep(4)
        return merge(self, spark_, source, **kw)

    ckpt = str(tmp_path / "ckpt")
    monkeypatch.setattr(LakeTable, "merge", slow_merge)
    with pytest.raises(TimeoutError, match="INCOMPLETE"):
        table.merge_stream(stream, checkpoint=ckpt, timeout_s=5)
    assert 0 < len(applied) < 3
    monkeypatch.setattr(LakeTable, "merge", merge)
    progress = table.merge_stream(stream, checkpoint=ckpt, timeout_s=60)
    assert progress and sum(p["numInputRows"] for p in progress) >= 3 - len(applied)
    got = _as_dict(table.read(spark))
    assert {k: got[k] for k in range(3)} == {0: "U0", 1: "U1", 2: "U2"}
    assert len(got) == 100


def test_merge_schema_evolution_adds_column(table, spark):
    """A source column the table lacks widens the schema: updated rows
    carry it, carried-forward rows read it as NULL (manifest schema is
    authoritative; old parquet files are never rewritten)."""
    src = _mk(
        spark, [(5, "UPDATED", "high")], "k bigint, v string, tier string"
    )
    table.merge(spark, src)
    got = {r.k: (r.v, r.tier) for r in table.read(spark).collect()}
    assert got[5] == ("UPDATED", "high")
    assert got[6] == ("v6", None)
    # time travel still serves the ORIGINAL schema
    assert "tier" not in table.read(spark, version=1).columns


def test_merge_type_change_is_rejected(table, spark):
    src = _mk(spark, [(5, 3.14)], "k bigint, v double")
    with pytest.raises(ValueError, match="type change"):
        table.merge(spark, src)


def test_append_schema_evolution(table, spark):
    table.append(spark, _mk(spark, [(900, "a", 1)], "k bigint, v string, extra int"))
    got = {r.k: r.extra for r in table.read(spark).collect()}
    assert got[900] == 1 and got[0] is None


def test_read_keys_prunes_to_hashed_buckets(table, spark):
    got = {r.k: r.v for r in table.read_keys(spark, [5, 13, 9999]).collect()}
    assert got == {5: "v5", 13: "v13"}
    # plan-level: both keys hash to bucket 5 (5%8 = 13%8 = 5), so no
    # other bucket dir may appear among the scan's file sources
    import re

    explained = table.read_keys(spark, [5, 13])._jdf.queryExecution().executedPlan().toString()
    # both keys hash to bucket 5 — no other bucket dir may be read
    dirs = set(re.findall(r"_bucket=(\d+)", explained))
    assert dirs <= {"5"}, f"scan touched extra buckets: {dirs}"


def test_read_keys_repeated_keys_read_each_row_once(table, spark):
    """The bucket probe deduplicates driver-side (no distinct()
    shuffle): keys repeated in the list — and two keys sharing a
    bucket — still return each matching row exactly once."""
    got = sorted(
        (r.k, r.v) for r in table.read_keys(spark, [5, 13, 5, 5, 42, 13]).collect()
    )
    assert got == [(5, "v5"), (13, "v13"), (42, "v42")]


def test_read_keys_bucket_probe_starts_no_job(table, spark):
    """The keys enter as an Arrow LocalRelation, so the optimizer folds
    the bucket projection and the probe's collect runs no Spark job (a
    list-built key frame is an RDD scan: one job per lookup)."""
    next_job = spark.sparkContext._jsc.sc().dagScheduler().nextJobId
    j0 = next_job()
    df = table.read_keys(spark, [5, 13, 42])
    assert next_job() - j0 == 0
    assert sorted((r.k, r.v) for r in df.collect()) == [(5, "v5"), (13, "v13"), (42, "v42")]


def test_read_keys_without_arrow_and_past_float_precision(tmp_path, spark):
    """With Arrow off the key frame takes the row path, and a key past
    2^53 must bucket on its exact value either way (no float64 round
    trip through pandas)."""
    big = 2**60 + 1
    t = LakeTable(str(tmp_path / "big"))
    t.create(spark, _mk(spark, [(big, "b"), (big + 1, "c"), (7, "s")]), key="k", num_buckets=8)
    conf = "spark.sql.execution.arrow.pyspark.enabled"
    prev = spark.conf.get(conf)
    try:
        for arrow in ("true", "false"):
            spark.conf.set(conf, arrow)
            got = sorted((r.k, r.v) for r in t.read_keys(spark, [big, 7]).collect())
            assert got == [(7, "s"), (big, "b")], arrow
    finally:
        spark.conf.set(conf, prev)


def test_create_rejects_missing_key_column(tmp_path, spark):
    t = LakeTable(str(tmp_path / "bad"))
    with pytest.raises(ValueError, match="merge key"):
        t.create(spark, _mk(spark, [(1, "a")]), key="nope")


def test_torn_current_pointer_self_heals(table, spark):
    """A crash between manifest create and CURRENT swap leaves a stale
    (or garbage) pointer; the manifest LISTING is authoritative, so
    reads and the next commit must be unaffected."""
    table.merge(spark, _mk(spark, [(5, "U")]))
    cur = os.path.join(table.snap_dir, "CURRENT")
    with open(cur, "w") as fh:
        fh.write("1")  # stale pointer, as if the swap never happened
    assert table.current_version() == 2
    assert _as_dict(table.read(spark))[5] == "U"
    with open(cur, "w") as fh:
        fh.write("garbage")  # torn write
    v = table.merge(spark, _mk(spark, [(6, "W")]))
    assert v == 3 and _as_dict(table.read(spark))[6] == "W"


def test_read_changes_classifies_and_skips_identical_rewrites(table, spark):
    src = _mk(
        spark,
        [(5, "UPDATED", False), (6, "v6", False), (500, "NEW", False), (7, None, True)],
        "k bigint, v string, del boolean",
    )
    # k=6 is "updated" to its EXISTING value: its bucket is rewritten,
    # but the change feed must not flag it
    table.merge(spark, src, delete_col="del")
    ch = {
        r.k: r.change_type
        for r in table.read_changes(spark, 1, 2).collect()
    }
    assert ch == {5: "changed", 500: "added", 7: "removed"}


def test_read_changes_preimage_emits_old_and_new(table, spark):
    src = _mk(
        spark,
        [(5, "UPDATED", False), (6, "v6", False), (500, "NEW", False), (7, None, True)],
        "k bigint, v string, del boolean",
    )
    table.merge(spark, src, delete_col="del")
    rows = table.read_changes(spark, 1, 2, preimage=True).collect()
    got = {(r.change_type, r.k): r.v for r in rows}
    # changed key 5 contributes BOTH sides; identical-rewrite 6 neither
    assert got == {
        ("changed_from", 5): "v5",
        ("changed", 5): "UPDATED",
        ("added", 500): "NEW",
        ("removed", 7): "v7",
    }
    assert len(rows) == 4


def test_read_changes_is_bucket_pruned(table, spark):
    import re

    table.merge(spark, _mk(spark, [(16, "U")]))  # touches bucket 0 only
    df = table.read_changes(spark, 1, 2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    dirs = set(re.findall(r"_bucket=(\d+)", plan))
    assert dirs <= {"0"}, f"diff scanned untouched buckets: {dirs}"
    assert {r.k: r.change_type for r in df.collect()} == {16: "changed"}


# ------------------------------------------------- merge-on-read deletes


def test_delete_mor_leaves_data_files_in_place(table, spark):
    m1 = table.manifest()
    v = table.delete_keys(spark, [5, 13, 9999])  # 9999 not in table
    m2 = table.manifest(v)
    assert m2["operation"] == "delete-mor"
    assert m2["buckets"] == m1["buckets"], "MOR delete rewrote data files"
    got = _as_dict(table.read(spark))
    assert 5 not in got and 13 not in got and len(got) == 98
    assert m2["total_rows"] == 98  # the missing key must not decrement
    # vectors only in the buckets the keys hash to (5 % 8 == 13 % 8 == 5;
    # absent key 9999 still writes an inert vector in its bucket 7 —
    # equality-delete semantics, no existence check, purged by optimize)
    assert set(m2["deletes"]) == {"5", "7"}


def test_delete_mor_then_append_same_key_is_visible(table, spark):
    table.delete_keys(spark, [5])
    table.append(spark, _mk(spark, [(5, "REBORN")]))
    got = _as_dict(table.read(spark))
    assert got[5] == "REBORN", "deletion vector shadowed a later append"
    assert len(got) == 100


def test_delete_mor_then_merge_clears_vectors(table, spark):
    table.delete_keys(spark, [5])
    table.merge(spark, _mk(spark, [(5, "BACK")]))
    m = table.manifest()
    assert m.get("deletes", {}) == {}, "merge left stale vectors on a rewritten bucket"
    got = _as_dict(table.read(spark))
    assert got[5] == "BACK" and len(got) == 100


def test_optimize_purges_deletion_vectors(table, spark):
    table.delete_keys(spark, [5, 6])
    v = table.optimize(spark)
    m = table.manifest(v)
    assert m.get("deletes", {}) == {}
    got = _as_dict(table.read(spark))
    assert 5 not in got and 6 not in got and len(got) == 98
    assert m["total_rows"] == 98


def test_delete_cow_rewrites_only_touched_buckets(table, spark):
    m1 = table.manifest()
    v = table.delete_keys(spark, [16], mode="cow")  # bucket 0
    m2 = table.manifest(v)
    assert m2["operation"] == "delete-cow"
    assert m2.get("deletes", {}) == {}
    assert m2["buckets"]["0"] != m1["buckets"]["0"]
    for b in m1["buckets"]:
        if b != "0":
            assert m2["buckets"][b] == m1["buckets"][b]
    assert 16 not in _as_dict(table.read(spark))


def test_time_travel_sees_pre_delete_rows(table, spark):
    table.delete_keys(spark, [5])
    assert _as_dict(table.read(spark, version=1))[5] == "v5"


def test_read_keys_applies_deletion_vectors(table, spark):
    table.delete_keys(spark, [5])
    got = {r.k: r.v for r in table.read_keys(spark, [5, 13]).collect()}
    assert got == {13: "v13"}


def test_read_changes_classifies_mor_delete_as_removed(table, spark):
    v = table.delete_keys(spark, [5, 6])
    ch = {r.k: r.change_type for r in table.read_changes(spark, 1, v).collect()}
    assert ch == {5: "removed", 6: "removed"}


def test_expire_retains_referenced_deletion_vectors(table, spark):
    table.merge(spark, _mk(spark, [(16, "U")]))
    table.delete_keys(spark, [5])
    table.expire_snapshots(keep_last=1)
    got = _as_dict(table.read(spark))
    assert 5 not in got and got[16] == "U" and len(got) == 99


# --- ADVICE r6 hardening: torn manifests, NULL keys, duplicate keys ---


def test_torn_newest_manifest_reads_as_uncommitted(table, spark):
    """A truncated v<N>.json (pre-fix crash shape) must NOT brick the
    table: readers fall back to the newest parseable snapshot and the
    next commit repairs the torn slot."""
    table.merge(spark, _mk(spark, [(5, "U2")]))  # v2 (valid)
    torn = table._manifest_path(3)
    with open(torn, "w") as fh:
        fh.write('{"version": 3, "buckets": {"0"')  # truncated mid-dump
    # reads: newest parseable wins
    assert table.current_version() == 2
    assert _as_dict(table.read(spark))[5] == "U2"
    assert [h["version"] for h in table.history()] == [1, 2]
    # commit: repairs the torn slot instead of conflicting forever
    v = table.merge(spark, _mk(spark, [(6, "U3")]))
    assert v == 3
    assert table.manifest(3)["operation"] == "merge"
    assert _as_dict(table.read(spark))[6] == "U3"


def test_commit_publishes_whole_manifest_atomically(table, spark):
    """No tmp debris is left behind and the published manifest is
    complete JSON (the tmp+hard-link protocol)."""
    table.merge(spark, _mk(spark, [(1, "U")]))
    names = os.listdir(table.snap_dir)
    assert not [n for n in names if ".tmp-" in n]
    for v in table.versions():
        with open(table._manifest_path(v)) as fh:
            json.load(fh)  # raises if torn


def test_commit_conflict_still_raised_over_valid_manifest(table, spark):
    m = table.manifest()
    m["version"] = 2
    table._commit(m)  # winner publishes v2
    with pytest.raises(CommitConflict):
        table._commit(m)  # loser attempts the SAME version
    assert table.current_version() == 2


def test_null_merge_key_rejected_on_create(tmp_path, spark):
    t = LakeTable(str(tmp_path / "nulls"))
    with pytest.raises(Exception, match="NULL merge key"):
        t.create(spark, _mk(spark, [(1, "a"), (None, "b")]), key="k")


def test_null_merge_key_rejected_on_merge(table, spark):
    with pytest.raises(Exception, match="NULL merge key"):
        table.merge(spark, _mk(spark, [(None, "ghost")]))


def test_duplicate_source_keys_rejected_on_merge(table, spark):
    with pytest.raises(ValueError, match="duplicate rows"):
        table.merge(spark, _mk(spark, [(5, "A"), (5, "B")]))


def test_merge_stream_seq_col_still_collapses_duplicates(table, spark, tmp_path):
    """The documented path for duplicate-key CDC batches: merge_stream
    with seq_col dedupes BEFORE merge, so the new uniqueness check
    never fires there."""
    import shutil

    src_dir = tmp_path / "cdc_in"
    src_dir.mkdir()
    _mk(
        spark,
        [(5, "OLD", 1), (5, "NEW", 2)],
        "k bigint, v string, seq int",
    ).coalesce(1).write.mode("overwrite").parquet(str(src_dir / "b0"))
    stream = (
        spark.readStream.schema("k bigint, v string, seq int")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src_dir / "b0"))
    )
    table.merge_stream(stream, checkpoint=str(tmp_path / "ckpt"), seq_col="seq")
    assert _as_dict(table.read(spark))[5] == "NEW"
    shutil.rmtree(str(src_dir), ignore_errors=True)


# --- zone maps / data skipping (round 7) ---


@pytest.fixture()
def stats_table(tmp_path, spark):
    """Time-ordered ingest shape: create + three appends, each commit
    covering a disjoint band of v-range (k stays hash-distributed)."""
    t = LakeTable(str(tmp_path / "zt"))
    band = lambda lo: _mk(
        spark,
        [(lo * 1000 + i, lo * 100 + i % 100) for i in range(200)],
        "k bigint, ts bigint",
    )
    t.create(spark, band(0), key="k", num_buckets=4, stats_cols=["ts"])
    for b in (1, 2, 3):
        t.append(spark, band(b))
    return t


def test_zone_maps_recorded_per_dir(stats_table):
    m = stats_table.manifest()
    assert m["stats_cols"] == ["ts"]
    dirs = {d for ps in m["buckets"].values() for d in ps}
    assert set(m["stats"]) == dirs
    for d, cs in m["stats"].items():
        lo, hi = cs["ts"]
        assert 0 <= lo <= hi <= 399


def test_read_range_prunes_dirs_and_is_exact(stats_table, spark):
    kept, total = stats_table.pruned_dirs("ts", 210, 250)
    assert total == 16  # 4 commits x 4 buckets
    assert kept == 4  # only commit band 2 overlaps
    got = stats_table.read_range(spark, "ts", 210, 250)
    # pruning must not change semantics: exactly band-2 rows in range
    rows = sorted((r.k, r.ts) for r in got.collect())
    assert rows == sorted(
        (2000 + i, 200 + i % 100) for i in range(200) if 10 <= i % 100 <= 50
    )
    # the scan really opened only the kept dirs
    opened = {os.path.dirname(f.replace("file://", "")) for f in got.inputFiles()}
    live = {d for ps in stats_table.manifest()["buckets"].values() for d in ps}
    assert len(opened & live) == kept


def test_read_range_edge_overlap_and_unknown_stats(stats_table, spark):
    # boundary-touching predicate keeps exactly the boundary dirs:
    # within band 0 only bucket 3 reaches ts=99 (ts = i%100, i ≡ 3 mod
    # 4), within band 1 only bucket 0 starts at ts=100 — per-DIR stats
    # prune finer than per-commit reasoning would suggest
    kept, _ = stats_table.pruned_dirs("ts", 99, 100)
    assert kept == 2
    got = {r.ts for r in stats_table.read_range(spark, "ts", 99, 100).collect()}
    assert got == {99, 100}
    # a column without zone maps refuses loudly
    with pytest.raises(ValueError, match="no zone maps"):
        stats_table.read_range(spark, "k", 0, 10)


def test_zone_maps_survive_merge_and_optimize(stats_table, spark):
    # merge touches a few buckets: rewritten dirs get fresh stats,
    # carried dirs keep theirs
    src = _mk(spark, [(1, 5000), (2001, 5001)], "k bigint, ts bigint")
    stats_table.merge(spark, src)
    m = stats_table.manifest()
    live = {d for ps in m["buckets"].values() for d in ps}
    assert set(m["stats"]) == live
    # the rewritten buckets' new dirs now span the merged ts values
    hi = max(cs["ts"][1] for cs in m["stats"].values())
    assert hi == 5001
    # reads stay exact after merge
    assert {r.k for r in stats_table.read_range(spark, "ts", 5000, 6000).collect()} == {
        1,
        2001,
    }
    # optimize compacts multi-dir buckets and recomputes their stats
    stats_table.optimize(spark)
    m2 = stats_table.manifest()
    live2 = {d for ps in m2["buckets"].values() for d in ps}
    assert set(m2["stats"]) == live2
    assert all(len(ps) == 1 for ps in m2["buckets"].values())
    assert {r.k for r in stats_table.read_range(spark, "ts", 5000, 6000).collect()} == {
        1,
        2001,
    }


def test_timestamp_zone_maps_order_correctly(tmp_path, spark):
    """Datetime stats serialize to ISO strings; lexicographic compare
    must equal chronological (the _stat_val contract)."""
    import datetime

    t = LakeTable(str(tmp_path / "tt"))
    rows = [
        (i, datetime.datetime(1995 + i // 10, 1 + i % 10, 3)) for i in range(30)
    ]
    t.create(
        spark,
        spark.createDataFrame(rows, "k bigint, d timestamp"),
        key="k",
        num_buckets=2,
        stats_cols=["d"],
    )
    got = t.read_range(
        spark, "d", datetime.datetime(1996, 1, 1), datetime.datetime(1996, 12, 31)
    )
    assert {r.k for r in got.collect()} == {i for i in range(30) if i // 10 == 1}


def test_q_lake_skipping_table_prunes(spark):
    """The registered key's table really skips: the 1999 slice keeps
    only the dirs of the 1999-2000 ingest band (8 of 32), and the
    executed scan opens no other live data dir."""
    import datetime

    from processor_spark.operators.cdc import _orders_lake_ingest
    from tests.conftest import SF_SMALL

    t = _orders_lake_ingest(spark, SF_SMALL)
    lo, hi = datetime.datetime(1999, 1, 1), datetime.datetime(1999, 12, 31, 23, 59, 59)
    kept, total = t.pruned_dirs("o_orderdate", lo, hi)
    assert total == 32 and kept == 8, (kept, total)
    got = t.read_range(spark, "o_orderdate", lo, hi)
    opened = {os.path.dirname(f.replace("file://", "")) for f in got.inputFiles()}
    live = {d for ps in t.manifest()["buckets"].values() for d in ps}
    assert len(opened & live) == kept


# --- key bloom sidecars (round 7) ---


@pytest.fixture()
def bloom_table(tmp_path, spark):
    """Four ingest commits with key blooms: keys 0-199, 1000-1199,
    2000-2199, 3000-3199 (every bucket gets one dir per commit)."""
    t = LakeTable(str(tmp_path / "bt"))
    band = lambda lo: _mk(spark, [(lo + i, f"v{lo + i}") for i in range(200)])
    t.create(spark, band(0), key="k", num_buckets=4, key_blooms=True)
    for lo in (1000, 2000, 3000):
        t.append(spark, band(lo))
    return t


def test_blooms_recorded_per_dir(bloom_table):
    m = bloom_table.manifest()
    assert m["key_blooms"] is True
    dirs = {d for ps in m["buckets"].values() for d in ps}
    assert set(m["blooms"]) == dirs
    for info in m["blooms"].values():
        assert info["m"] >= 63 and os.path.isdir(info["path"])


def test_read_keys_bloom_prunes_to_owning_commit(bloom_table, spark):
    """A key living in one ingest band must open ~1 dir, not the 4 its
    bucket accumulated (false positives may rarely add one — assert
    strictly fewer than the un-bloomed 4)."""
    got = bloom_table.read_keys(spark, [2042])
    assert {r.k: r.v for r in got.collect()} == {2042: "v2042"}
    opened = {os.path.dirname(f.replace("file://", "")) for f in got.inputFiles()}
    live = {d for ps in bloom_table.manifest()["buckets"].values() for d in ps}
    assert 1 <= len(opened & live) < 4


def test_read_keys_bloom_never_false_negative(bloom_table, spark):
    """Every present key must be found (md5 positions are identical in
    the engine build and the hashlib probe — no false negatives)."""
    keys = [0, 3, 1001, 2199, 3100]
    got = {r.k for r in bloom_table.read_keys(spark, keys).collect()}
    assert got == set(keys)
    # absent keys return empty, usually opening zero dirs
    assert bloom_table.read_keys(spark, [999999]).count() == 0


def test_blooms_maintained_by_merge_and_optimize(bloom_table, spark):
    bloom_table.merge(spark, _mk(spark, [(2042, "UPDATED"), (5000, "NEW")]))
    m = bloom_table.manifest()
    live = {d for ps in m["buckets"].values() for d in ps}
    assert set(m["blooms"]) == live
    got = {r.k: r.v for r in bloom_table.read_keys(spark, [2042, 5000]).collect()}
    assert got == {2042: "UPDATED", 5000: "NEW"}
    bloom_table.optimize(spark)
    m2 = bloom_table.manifest()
    live2 = {d for ps in m2["buckets"].values() for d in ps}
    assert set(m2["blooms"]) == live2
    got2 = {r.k: r.v for r in bloom_table.read_keys(spark, [2042, 0]).collect()}
    assert got2 == {2042: "UPDATED", 0: "v0"}


# --- cross-table catalog transactions (round 7) ---


from processor_spark.sources.lakehouse import LakeCatalog


@pytest.fixture()
def catalog(tmp_path, spark):
    cat = LakeCatalog(str(tmp_path / "cat"))
    for name in ("accounts", "audit"):
        cat.table(name).create(
            spark, _mk(spark, [(i, f"{name}{i}") for i in range(20)]), key="k"
        )
    cat.init({"accounts": 1, "audit": 1})
    return cat


def test_catalog_transaction_flips_both_tables_atomically(catalog, spark):
    v0 = catalog.current_version()
    (
        catalog.transaction()
        .merge("accounts", _mk(spark, [(5, "MOVED")]))
        .append("audit", _mk(spark, [(100, "log-entry")]))
        .commit()
    )
    assert catalog.current_version() == v0 + 1
    got_a = _as_dict(catalog.read(spark, "accounts"))
    got_l = _as_dict(catalog.read(spark, "audit"))
    assert got_a[5] == "MOVED" and got_l[100] == "log-entry"
    # the OLD catalog snapshot still serves the OLD pair consistently
    assert _as_dict(catalog.read(spark, "accounts", version=v0))[5] == "accounts5"
    assert 100 not in _as_dict(catalog.read(spark, "audit", version=v0))


def test_catalog_readers_never_see_half_applied_transactions(catalog, spark):
    """Simulate a crash between the table commits and the catalog
    publish: the table has a new (unpinned) version, but catalog
    readers still resolve the old consistent set."""
    t = catalog.table("accounts")
    t.merge(spark, _mk(spark, [(5, "ORPHANED")]))  # table commit lands...
    # ...but no catalog publish happens (crash here)
    assert _as_dict(catalog.read(spark, "accounts"))[5] == "accounts5"
    assert _as_dict(t.read(spark))[5] == "ORPHANED"  # direct read sees it


def test_catalog_publish_conflict_is_loud(catalog, spark):
    tx1 = catalog.transaction().append("audit", _mk(spark, [(200, "a")]))
    tx2 = catalog.transaction().append("audit", _mk(spark, [(201, "b")]))
    tx1.commit()
    with pytest.raises(CommitConflict):
        tx2.commit()
    # loser retries from the fresh snapshot and succeeds
    catalog.transaction().append("audit", _mk(spark, [(201, "b")])).commit()
    got = _as_dict(catalog.read(spark, "audit"))
    assert got[200] == "a" and got[201] == "b"


def test_merge_counts_rows_from_written_files(table, spark):
    """MERGE takes the merged row count from the parquet footers it
    wrote instead of executing the merged frame a second time.  While
    it recounted the frame, a 2-row merge into the 100-row, 8-bucket
    table ran 15 Spark jobs on this source (12 on a merge_stream
    micro-batch); it now runs 10."""
    next_job = spark.sparkContext._jsc.sc().dagScheduler().nextJobId
    src = _mk(spark, [(5, "UPDATED"), (300, "INSERTED")])
    j0 = next_job()
    table.merge(spark, src)
    assert next_job() - j0 < 12
    assert table.manifest()["total_rows"] == 101


def test_total_rows_equal_a_full_count(table, spark):
    """``total_rows`` in every manifest equals a full count of the
    table after a create, an append, a merge with deletes and a
    schema-widening merge."""

    def check(n):
        assert table.manifest()["total_rows"] == table.read(spark).count() == n

    check(100)
    table.append(spark, _mk(spark, [(i, f"a{i}") for i in range(100, 130)]))
    check(130)
    table.merge(
        spark,
        _mk(
            spark,
            [(3, "UPDATED", False), (7, None, True), (120, None, True), (500, "NEW", False)],
            "k bigint, v string, del boolean",
        ),
        delete_col="del",
    )
    check(129)
    table.merge(
        spark,
        _mk(spark, [(8, "W", 1), (600, "X", 2)], "k bigint, v string, extra int"),
    )
    check(130)
    assert "extra" in table.read(spark).columns
