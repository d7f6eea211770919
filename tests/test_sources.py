"""Source/sink round-trips + fixture invariants (SURVEY.md §2.1, §5)."""

from __future__ import annotations

import duckdb
import pytest

from pyspark.sql import functions as F

from processor_spark.sources import TABLES, load, load_all, register_views, row_key, schema_for
from processor_spark.sources import sinks
from tests.conftest import SF_SMALL


def test_all_tables_load_with_pinned_schemas(spark):
    for t, df in load_all(spark, SF_SMALL).items():
        assert df.schema == schema_for(t), f"{t}: {df.schema} != pinned"
        assert df.count() > 0


def test_row_key_is_each_tables_id_column():
    """load(spread=True) hash-partitions on row_key(table), the first
    field of the pinned schema: pin that it is the id column."""
    assert {t: row_key(t) for t in TABLES} == {
        "region": "r_regionkey",
        "nation": "n_nationkey",
        "supplier": "s_suppkey",
        "customer": "c_custkey",
        "part": "p_partkey",
        "orders": "o_orderkey",
        "lineitem": "l_orderkey",
        "events": "event_id",
        "documents": "doc_id",
        "embeddings": "vec_id",
    }


def test_events_ns_truncation_is_lossless(spark):
    """The nanosAsLong → timestamp_micros conversion must be exact:
    fixture ns values are µs-aligned (checked here against DuckDB's
    ns-precision read)."""
    con = duckdb.connect()
    n_misaligned = con.execute(
        f"SELECT count(*) FROM read_parquet('{SF_SMALL}/events.parquet') "
        "WHERE epoch_ns(ts) % 1000 != 0"
    ).fetchone()[0]
    assert n_misaligned == 0
    # spot-check: min/max round-trip identically
    e = load(spark, SF_SMALL, "events")
    smin, smax = e.agg(F.min("ts"), F.max("ts")).first()
    omin, omax = con.execute(
        f"SELECT CAST(min(ts) AS TIMESTAMP), CAST(max(ts) AS TIMESTAMP) "
        f"FROM read_parquet('{SF_SMALL}/events.parquet')"
    ).fetchone()
    assert (smin, smax) == (omin, omax)


def test_register_views_makes_sql_entrypoint_work(spark):
    register_views(spark, SF_SMALL)
    n = spark.sql("SELECT count(*) AS n FROM lineitem").first().n
    assert n == load(spark, SF_SMALL, "lineitem").count()
    # EP2: a real query through pure SQL
    top = spark.sql(
        "SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY 1 ORDER BY n DESC"
    ).collect()
    assert len(top) == 3


def test_parquet_roundtrip(spark, tmp_path):
    df = load(spark, SF_SMALL, "nation")
    sinks.write_parquet(df, str(tmp_path / "nation_out"))
    back = spark.read.parquet(str(tmp_path / "nation_out"))
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_partitioned_write_enables_partition_pruning(spark, tmp_path):
    df = load(spark, SF_SMALL, "orders").withColumn("order_year", F.year("o_orderdate"))
    path = str(tmp_path / "orders_by_year")
    sinks.write_parquet_partitioned(df, path, ["order_year"])
    back = spark.read.parquet(path).where(F.col("order_year") == 1997)
    from processor_spark.plans import explain_str

    plan = explain_str(back)
    assert "PartitionFilters: [" in plan and "order_year" in plan.split("PartitionFilters")[1].split("]")[0]
    want = df.where(F.col("order_year") == 1997).count()
    assert back.count() == want


def test_csv_json_roundtrip(spark, tmp_path):
    df = load(spark, SF_SMALL, "region")
    sinks.write_csv(df, str(tmp_path / "region_csv"))
    back = sinks.read_csv(spark, str(tmp_path / "region_csv"), schema=schema_for("region"))
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))
    sinks.write_json(df, str(tmp_path / "region_json"))
    backj = sinks.read_json(spark, str(tmp_path / "region_json"), schema=schema_for("region"))
    assert sorted(map(tuple, backj.collect())) == sorted(map(tuple, df.collect()))


def test_bucketed_table_join_has_no_shuffle(spark, tmp_path):
    """Bucketed join co-location: joining two tables bucketed on the same
    key must not re-shuffle either side (the 100 TB join strategy)."""
    o = load(spark, SF_SMALL, "orders")
    li = load(spark, SF_SMALL, "lineitem")
    sinks.write_bucketed_table(o, "orders_b", "o_orderkey", 4, mode="overwrite")
    sinks.write_bucketed_table(
        li.withColumnRenamed("l_orderkey", "o_orderkey"), "lineitem_b", "o_orderkey", 4,
        mode="overwrite",
    )
    ob, lb = spark.table("orders_b"), spark.table("lineitem_b")
    joined = ob.join(lb, "o_orderkey")
    from processor_spark.plans import explain_str

    # disable broadcast to force the join to prove bucket co-location
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = explain_str(ob.join(lb, "o_orderkey"))
        assert "Exchange" not in plan, plan
        assert joined.count() == o.join(li, o.o_orderkey == li.l_orderkey).count()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_compact_parquet_reduces_file_count(spark, tmp_path):
    frag = str(tmp_path / "frag")
    out = str(tmp_path / "compact")
    load(spark, SF_SMALL, "orders").repartition(24).write.parquet(frag)
    import glob

    assert len(glob.glob(f"{frag}/part-*.parquet")) == 24
    n = sinks.compact_parquet(spark, frag, out, target_files=2)
    assert n == 2
    assert spark.read.parquet(out).count() == load(spark, SF_SMALL, "orders").count()


def test_orc_roundtrip_with_pushdown(spark, tmp_path):
    df = load(spark, SF_SMALL, "orders")
    sinks.write_orc(df, str(tmp_path / "orders_orc"))
    back = sinks.read_orc(spark, str(tmp_path / "orders_orc"))
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))
    # ORC scans take pushed filters too
    from processor_spark.plans import explain_str

    pruned = back.where(F.col("o_totalprice") > 200000.0).select("o_orderkey")
    plan = explain_str(pruned)
    assert "PushedFilters: [" in plan and "o_totalprice" in plan.split("PushedFilters")[1].split("]")[0]


def test_dynamic_partition_overwrite_preserves_untouched_partitions(spark, tmp_path):
    """partitionOverwriteMode=dynamic: overwriting one year's batch must
    not delete other years (the incremental-backfill contract)."""
    path = str(tmp_path / "orders_dyn")
    o = load(spark, SF_SMALL, "orders").withColumn("order_year", F.year("o_orderdate"))
    sinks.write_parquet_partitioned(o, path, ["order_year"])
    before = spark.read.parquet(path).count()
    y1997 = o.where(F.col("order_year") == 1997)
    # re-write ONLY 1997 (same rows) in overwrite mode
    y1997.write.mode("overwrite").partitionBy("order_year").parquet(path)
    after = spark.read.parquet(path)
    assert after.count() == before, "non-1997 partitions must survive the overwrite"
    assert after.where("order_year = 1997").count() == y1997.count()


def test_range_clustered_layout_has_disjoint_file_ranges(spark, tmp_path):
    """write_range_clustered: each output file owns a disjoint key range
    (this is what lets row-group min/max stats skip whole files)."""
    import pyspark.sql.functions as F

    from processor_spark.sources import load, sinks

    path = str(tmp_path / "clustered")
    o = load(spark, SF_SMALL, "orders")
    sinks.write_range_clustered(o, path, ["o_totalprice"], n_files=8)
    spans = (
        spark.read.parquet(path)
        .select("o_totalprice", F.input_file_name().alias("f"))
        .groupBy("f")
        .agg(F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi"))
        .orderBy("lo")
        .collect()
    )
    assert len(spans) > 1
    for prev, cur in zip(spans, spans[1:]):
        assert prev.hi <= cur.lo, (prev, cur)
    # and the data survives intact
    assert spark.read.parquet(path).count() == o.count()


def test_zorder_layout_bounds_both_dimensions(spark, tmp_path):
    """write_zorder_clustered: every file owns a compact rectangle in
    (custkey, totalprice) space — per-file ranges on BOTH dimensions
    are far below the global range, unlike single-column range
    clustering (tight on one dim, full-width on the other)."""
    import pyspark.sql.functions as F

    from processor_spark.sources import load, sinks

    path = str(tmp_path / "zorder")
    o = load(spark, SF_SMALL, "orders")
    sinks.write_zorder_clustered(
        o, path, ["o_custkey", "o_totalprice"], n_files=16
    )
    back = spark.read.parquet(path)
    assert back.count() == o.count()
    assert "__z" not in back.columns

    spans = (
        back.select("o_custkey", "o_totalprice", F.input_file_name().alias("f"))
        .groupBy("f")
        .agg(
            (F.max("o_custkey") - F.min("o_custkey")).alias("ck_span"),
            (F.max("o_totalprice") - F.min("o_totalprice")).alias("tp_span"),
        )
        .collect()
    )
    assert len(spans) >= 8
    glob = o.agg(
        (F.max("o_custkey") - F.min("o_custkey")).alias("ck"),
        (F.max("o_totalprice") - F.min("o_totalprice")).alias("tp"),
    ).first()
    avg_ck = sum(r.ck_span for r in spans) / len(spans) / glob.ck
    avg_tp = sum(r.tp_span for r in spans) / len(spans) / glob.tp
    # a random/naive layout gives ~1.0 on both; single-dim range
    # clustering gives ~1/files on one and ~1.0 on the other
    assert avg_ck < 0.6, avg_ck
    assert avg_tp < 0.6, avg_tp


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """Schema evolution: a v2 writer adds a column; mergeSchema reads
    both generations with the union schema, v1 rows null-filled — the
    contract that lets a 100 TB table evolve without rewriting
    history."""
    import pyspark.sql.functions as F

    from processor_spark.sources import load

    path = str(tmp_path / "evolving")
    o = load(spark, SF_SMALL, "orders").select("o_orderkey", "o_totalprice")
    o.where(F.col("o_orderkey") % 2 == 0).write.parquet(path)
    (
        o.where(F.col("o_orderkey") % 2 == 1)
        .withColumn("priority_class", F.lit("standard"))
        .write.mode("append")
        .parquet(path)
    )
    merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert set(merged.columns) == {"o_orderkey", "o_totalprice", "priority_class"}
    assert merged.count() == o.count()
    nulls = merged.where(F.col("priority_class").isNull()).count()
    assert nulls == o.where(F.col("o_orderkey") % 2 == 0).count()


def test_json_corrupt_records_are_quarantined(spark, tmp_path):
    """PERMISSIVE JSON parsing: malformed lines land in
    _corrupt_record instead of failing the job — the quarantine
    pattern for dirty feeds."""
    import pyspark.sql.types as T

    p = tmp_path / "feed.jsonl"
    p.write_text('{"k": 1}\n{"k": 2}\nNOT JSON AT ALL\n{"k": 4}\n')
    schema = T.StructType(
        [T.StructField("k", T.IntegerType()), T.StructField("_corrupt_record", T.StringType())]
    )
    df = spark.read.schema(schema).json(str(p)).cache()
    try:
        good = df.where(df._corrupt_record.isNull())
        bad = df.where(df._corrupt_record.isNotNull())
        assert good.count() == 3
        assert bad.count() == 1
        assert "NOT JSON" in bad.first()._corrupt_record
    finally:
        df.unpersist()


def test_binaryfile_source_feeds_multimodal_pipeline(spark, tmp_path):
    """spark.read.format('binaryFile') is the ingestion path for raw
    media files at 100 TB: each file becomes (path, modificationTime,
    length, content BinaryType) with NO decoding on read, so metadata
    predicates (path glob, length) prune before any payload moves.
    """
    media = tmp_path / "media"
    media.mkdir()
    payloads = {f"img_{i:03d}.jpg": bytes([i]) * (100 + i) for i in range(8)}
    (media / "notes.txt").write_bytes(b"not media")
    for name, blob in payloads.items():
        (media / name).write_bytes(blob)

    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.jpg")
        .load(str(media))
    )
    rows = df.selectExpr(
        "reverse(split(path, '/'))[0] AS fname", "length", "content"
    ).collect()
    got = {r.fname: bytes(r.content) for r in rows}
    assert got == payloads  # txt filtered out by the glob, bytes intact
    assert all(r.length == len(payloads[r.fname]) for r in rows)

    # length-only projection must not require content (columnar prune):
    small = df.where("length < 104").select("length").collect()
    assert sorted(r.length for r in small) == [100, 101, 102, 103]


def test_schema_evolution_merge_on_read(spark, tmp_path):
    """Schema evolution (the 100 TB lake reality: columns get added
    over time): files written before a column existed must read as
    NULL for it under mergeSchema, values must survive unchanged, and
    the default non-merging read must still serve the old schema
    cheaply (schema from one footer, no per-file merge)."""
    import pyspark.sql.functions as F

    base = str(tmp_path / "evolving")
    spark.range(3).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    ).write.parquet(base + "/batch=1")
    spark.range(3, 5).select(
        F.col("id").alias("k"),
        (F.col("id") * 10).alias("v"),
        F.lit("added-later").alias("note"),
    ).write.parquet(base + "/batch=2")

    merged = spark.read.option("mergeSchema", True).parquet(base)
    assert set(merged.columns) == {"k", "v", "note", "batch"}
    rows = {r.k: (r.v, r.note) for r in merged.collect()}
    assert rows[0] == (0, None) and rows[4] == (40, "added-later")
    assert sum(1 for v, n in rows.values() if n is None) == 3


def test_python_datasource_batch_partitioned_and_deterministic(spark):
    """Custom Python DataSource (batch): rows are a pure function of
    event_id, split across the requested partitions with no overlap."""
    from processor_spark.sources.custom import _row, register_custom_sources

    register_custom_sources(spark)
    df = (
        spark.read.format("synth_events")
        .option("rows", 1003)           # deliberately not divisible
        .option("partitions", 8)
        .load()
    )
    assert df.rdd.getNumPartitions() == 8
    rows = sorted(tuple(r) for r in df.collect())
    assert rows == sorted(_row(i) for i in range(1003))


def test_python_datasource_stream_resumes_from_checkpoint(spark, tmp_path):
    """Custom Python DataSource (streaming): the offset round-trips
    through the checkpoint — a second availableNow run must NOT re-emit
    rows the first run committed (custom-connector exactly-once)."""
    from processor_spark.sources.custom import register_custom_sources

    register_custom_sources(spark)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        stream = (
            spark.readStream.format("synth_events")
            .option("rows", 250)
            .option("batch_rows", 100)
            .load()
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # a SimpleDataSourceStreamReader availableNow run drains only the
    # offset range its planning-time prefetch discovered (~one batch),
    # so restart repeatedly: each run must resume exactly where the
    # previous committed — never a duplicate, never a gap — until the
    # source is exhausted
    for _ in range(5):
        run_once()
        ids = [r.event_id for r in spark.read.parquet(out).collect()]
        assert len(ids) == len(set(ids)), "restart re-emitted committed rows"
        if len(ids) == 250:
            break
    got = sorted(ids)
    assert got == list(range(250)), (len(got), got[:5], got[-5:])


def test_custom_source_filter_pushdown_prunes_partitions(spark, tmp_path):
    """Range predicates on event_id must reach the custom reader's
    PARTITION PLANNING: a pushed range generates only covering slices
    (empty ones never become tasks), and the query result is identical
    to the unfiltered read filtered above the scan."""
    from pyspark.sql.datasource import GreaterThanOrEqual, LessThan

    from processor_spark.sources.custom import SynthEventsReader, register_custom_sources

    # unit level: the pushed range shrinks partitions
    r = SynthEventsReader({"rows": "1000", "partitions": "4"})
    leftover = list(
        r.pushFilters(
            [GreaterThanOrEqual(("event_id",), 990), LessThan(("event_id",), 995)]
        )
    )
    assert leftover == [], "range filters on event_id must be fully absorbed"
    parts = r.partitions()
    total = sum(e - s for (s, e) in (p.value for p in parts))
    assert total == 5, parts
    # unsupported filters are handed back for Spark to re-apply
    r2 = SynthEventsReader({"rows": "100"})
    from pyspark.sql.datasource import EqualTo

    back = list(r2.pushFilters([EqualTo(("user_id",), 3)]))
    assert len(back) == 1

    # end to end: pushed read == unpushed read + filter
    register_custom_sources(spark)
    base = spark.read.format("synth_events").option("rows", 1000)
    got = sorted(
        r.event_id
        for r in base.load().where("event_id >= 990 AND event_id < 995").collect()
    )
    assert got == [990, 991, 992, 993, 994]


def test_custom_sink_writer_manifest_commit(spark, tmp_path):
    """The custom JSONL sink must write one file per task, publish a
    _MANIFEST only on commit, and round-trip every row."""
    import json
    import os

    from processor_spark.sources.custom import register_custom_sources
    from processor_spark.sources import load
    from tests.conftest import SF_SMALL

    register_custom_sources(spark)
    out = str(tmp_path / "jsonl_out")
    df = (
        load(spark, SF_SMALL, "orders")
        .select("o_orderkey", "o_orderstatus")
        .where("o_orderkey <= 200")
        .repartition(3)
    )
    expected = {(r.o_orderkey, r.o_orderstatus) for r in df.collect()}
    df.write.format("jsonl_sink").option("path", out).mode("append").save()

    manifest = json.load(open(os.path.join(out, "_MANIFEST")))
    assert manifest["total_rows"] == len(expected)
    got = set()
    for f in manifest["files"]:
        with open(f) as fh:
            for line in fh:
                d = json.loads(line)
                got.add((d["o_orderkey"], d["o_orderstatus"]))
    assert got == expected


def test_custom_stream_sink_manifest_log_exactly_once(spark, tmp_path):
    """End-to-end custom stream: the Python stream READER feeds the
    Python stream WRITER; every emitted row lands in exactly one
    manifested file, and the per-batch manifest log sums to the total
    row count (replayed batches would overwrite, not double-count)."""
    import json
    import os

    from processor_spark.sources.custom import register_custom_sources

    register_custom_sources(spark)
    out = str(tmp_path / "stream_jsonl")
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        q = (
            spark.readStream.format("synth_events")
            .option("rows", 120)
            .option("batch_rows", 50)
            .load()
            .writeStream.format("jsonl_sink")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    ids: list[int] = []
    for _ in range(5):
        run_once()
        ids = []
        log = os.path.join(out, "_MANIFEST_LOG")
        with open(log) as fh:
            entries = [json.loads(line) for line in fh]
        for e in entries:
            for f in e["files"]:
                with open(f) as fh2:
                    ids += [json.loads(line)["event_id"] for line in fh2]
        assert sum(e["rows"] for e in entries) == len(ids)
        assert len(ids) == len(set(ids)), "a replayed batch double-counted"
        if len(ids) == 120:
            break
    assert sorted(ids) == list(range(120))
