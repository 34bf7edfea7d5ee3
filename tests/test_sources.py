"""Round-trip tests for the format readers/writers."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from gluettalax_spark.sources.io import read_table, write_partitioned, write_table
from gluettalax_spark.tables import load


@pytest.mark.parametrize("fmt", ["parquet", "orc", "csv", "json"])
def test_roundtrip(spark, sf_dir, tmp_path, fmt):
    src = load(spark, sf_dir, "nation")
    path = str(tmp_path / f"nation_{fmt}")
    write_table(src, path, fmt=fmt)
    back = read_table(spark, path, fmt=fmt, schema="n_nationkey INT, n_name STRING, n_regionkey INT")
    assert back.count() == src.count()
    assert {tuple(r) for r in back.collect()} == {tuple(r) for r in src.collect()}


def test_bad_format(spark):
    with pytest.raises(ValueError):
        read_table(spark, "/tmp/x", fmt="avro")


def test_partitioned_write_layout(spark, sf_dir, tmp_path):
    docs = load(spark, sf_dir, "documents")
    path = str(tmp_path / "docs_by_lang")
    write_partitioned(docs, path, ["lang"], max_records_per_file=100)
    # Hive layout on disk
    import os

    subdirs = {d for d in os.listdir(path) if d.startswith("lang=")}
    assert subdirs, "expected lang=... partition dirs"
    back = read_table(spark, path)
    assert back.count() == docs.count()
    # Partition pruning reaches the scan: the physical plan carries a
    # PartitionFilters entry on lang (no full-table read).
    one = back.filter(F.col("lang") == "en")
    assert one.count() == docs.filter(F.col("lang") == "en").count()
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "lang" in plan


def test_write_partitioned_one_file_per_partition_value(spark, tmp_path):
    """A frame spread over many input tasks leaves one parquet file per
    partition value; rows round-trip, and maxRecordsPerFile still splits
    a value's file."""
    rows = [(i, f"k{i % 4}") for i in range(200)]
    df = spark.createDataFrame(rows, "id long, k string").repartition(8)

    def files(path):
        return {
            d: [f for f in os.listdir(os.path.join(path, d)) if f.endswith(".parquet")]
            for d in os.listdir(path)
            if d.startswith("k=")
        }

    one = str(tmp_path / "one")
    write_partitioned(df, one, ["k"])
    assert {d: len(fs) for d, fs in files(one).items()} == {f"k=k{j}": 1 for j in range(4)}
    back = read_table(spark, one).select("id", "k")
    assert sorted(tuple(r) for r in back.collect()) == rows

    capped = str(tmp_path / "capped")
    write_partitioned(df, capped, ["k"], max_records_per_file=20)
    assert {d: len(fs) for d, fs in files(capped).items()} == {f"k=k{j}": 3 for j in range(4)}
    assert read_table(spark, capped).count() == len(rows)


def test_overwrite_partitions_dynamic(spark, sf_dir, tmp_path):
    """Dynamic overwrite replaces only the partitions present in the frame."""
    import uuid as _uuid

    from gluettalax_spark.sources.io import overwrite_partitions

    db = f"owdb_{_uuid.uuid4().hex[:8]}"
    spark.sql(f"CREATE DATABASE `{db}` LOCATION '{tmp_path / db}'")
    try:
        docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars", "lang")
        docs.write.partitionBy("lang").saveAsTable(f"`{db}`.docs_p")
        before_en = spark.table(f"`{db}`.docs_p").filter("lang = 'en'").count()
        before_total = spark.table(f"`{db}`.docs_p").count()
        # Replace ONLY lang=en with a single synthetic row.
        repl = spark.createDataFrame([(99999, 1, "en")], "doc_id long, n_chars long, lang string")
        overwrite_partitions(repl, f"`{db}`.docs_p")
        after = spark.table(f"`{db}`.docs_p")
        assert after.filter("lang = 'en'").count() == 1
        assert after.count() == before_total - before_en + 1
        assert after.filter("lang = 'de'").count() == docs.filter("lang = 'de'").count()
    finally:
        spark.sql(f"DROP DATABASE `{db}` CASCADE")


def test_upsert_partitioned(spark, sf_dir, tmp_path):
    """MERGE semantics: updated keys replaced, new keys inserted,
    untouched partitions byte-identical (never rewritten)."""
    import uuid as _uuid

    from gluettalax_spark.sources.io import upsert_partitioned

    db = f"updb_{_uuid.uuid4().hex[:8]}"
    spark.sql(f"CREATE DATABASE `{db}` LOCATION '{tmp_path / db}'")
    try:
        docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars", "lang")
        docs.write.partitionBy("lang").saveAsTable(f"`{db}`.docs_u")
        target = f"`{db}`.docs_u"
        en_ids = [r.doc_id for r in spark.table(target).filter("lang='en'").limit(2).collect()]
        updates = spark.createDataFrame(
            [(en_ids[0], 111111, "en"), (999999, 222222, "en")],
            "doc_id long, n_chars long, lang string",
        )
        before_total = spark.table(target).count()
        before_de = spark.table(target).filter("lang='de'").count()
        upsert_partitioned(spark, target, updates, "doc_id", "lang")
        after = spark.table(target)
        assert after.count() == before_total + 1  # one insert, one update
        assert after.filter(f"doc_id = {en_ids[0]}").collect()[0].n_chars == 111111
        assert after.filter("doc_id = 999999").count() == 1
        assert after.filter(f"doc_id = {en_ids[1]}").count() == 1  # untouched row survives
        assert after.filter("lang='de'").count() == before_de  # other partition intact
    finally:
        spark.sql(f"DROP DATABASE `{db}` CASCADE")


def test_range_sorted_write_clusters_minmax(spark, sf_dir, tmp_path):
    """write_range_sorted produces files with (near-)disjoint value
    ranges — verified from the parquet footers, which is exactly the
    metadata a pruning scan consults."""
    import glob as _glob

    import pyarrow.parquet as pq

    from gluettalax_spark.sources.io import write_range_sorted

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate", "l_quantity")
    out = str(tmp_path / "li_ranged")
    write_range_sorted(li, out, "l_shipdate", n_files=6)

    ranges = []
    for f in _glob.glob(f"{out}/part-*.parquet"):
        md = pq.ParquetFile(f).metadata
        col_idx = next(
            i for i in range(md.num_columns)
            if md.row_group(0).column(i).path_in_schema == "l_shipdate"
        )
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(col_idx).statistics
            mins.append(st.min)
            maxs.append(st.max)
        ranges.append((min(mins), max(maxs)))
    assert len(ranges) >= 4
    ranges.sort()
    overlaps = sum(1 for (a, b) in zip(ranges, ranges[1:]) if a[1] > b[0])
    # Range boundaries may share a single value; whole-range overlaps may not.
    assert overlaps == 0, ranges
    # And the data still round-trips completely.
    assert spark.read.parquet(out).count() == li.count()


def test_upsert_partitioned_detect_moves(spark, sf_dir, tmp_path):
    """An update that moves a key to a different partition must not leave
    the stale copy behind when detect_moves=True (and the docstring
    contract documents that the default requires partition = f(key))."""
    import uuid as _uuid

    from gluettalax_spark.sources.io import upsert_partitioned

    db = f"updb_{_uuid.uuid4().hex[:8]}"
    spark.sql(f"CREATE DATABASE `{db}` LOCATION '{tmp_path / db}'")
    try:
        docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars", "lang")
        docs.write.partitionBy("lang").saveAsTable(f"`{db}`.docs_m")
        target = f"`{db}`.docs_m"
        moved_id = spark.table(target).filter("lang='de'").limit(1).collect()[0].doc_id
        updates = spark.createDataFrame(
            [(moved_id, 424242, "en")], "doc_id long, n_chars long, lang string"
        )
        before_total = spark.table(target).count()
        upsert_partitioned(spark, target, updates, "doc_id", "lang", detect_moves=True)
        after = spark.table(target)
        rows = after.filter(f"doc_id = {moved_id}").collect()
        assert len(rows) == 1, rows  # exactly one copy — stale 'de' row gone
        assert rows[0].lang == "en" and rows[0].n_chars == 424242
        assert after.count() == before_total  # move, not insert
    finally:
        spark.sql(f"DROP DATABASE `{db}` CASCADE")


# --------------------------------------------------------------------------
# Custom Python Data Source (Spark 4 pyspark.sql.datasource API)
# --------------------------------------------------------------------------


@pytest.mark.slow  # gate tier (make gate): heavyweight recompute/replay (r13 tiering)
def test_python_datasource_batch_partitioned(spark):
    from gluettalax_spark.sources.pydatasource import FORMAT_NAME, register_synthetic_source

    register_synthetic_source(spark)
    df = (
        spark.read.format(FORMAT_NAME)
        .option("n_rows", 500)
        .option("n_partitions", 4)
        .load()
    )
    assert df.count() == 500
    # The read is split across executor-side input partitions, not a
    # driver-side generate-and-parallelize.
    assert df.rdd.getNumPartitions() == 4
    # Deterministic regeneration: same ids → same rows on re-read.
    a = sorted(map(tuple, df.limit(50).collect()))
    b = sorted(map(tuple, spark.read.format(FORMAT_NAME).option("n_rows", 50).load().collect()))
    assert a == b


def test_python_datasource_filter_pushdown(spark):
    """event_id range predicates reach the generator via pushFilters —
    the source produces only the requested range instead of generating
    everything and filtering after."""
    from gluettalax_spark.sources.pydatasource import FORMAT_NAME, register_synthetic_source

    register_synthetic_source(spark)
    df = spark.read.format(FORMAT_NAME).option("n_rows", 1000).load()
    f = df.filter((F.col("event_id") >= 100) & (F.col("event_id") < 200))
    rows = f.collect()
    assert len(rows) == 100
    assert {r.event_id for r in rows} == set(range(100, 200))
    # Non-range predicates are declined by pushFilters and re-applied by
    # Spark — results must still be exact.
    g = df.filter((F.col("event_id") < 50) & (F.col("event_type") == "error"))
    assert all(r.event_type == "error" and r.event_id < 50 for r in g.collect())


def test_python_datasource_stream_offsets(spark):
    """The micro-batch stream reader must deliver every offset exactly
    once across batches (availableNow drains to latestOffset)."""
    import uuid as _uuid

    from gluettalax_spark.sources.pydatasource import FORMAT_NAME, register_synthetic_source

    register_synthetic_source(spark)
    name = f"pyds_{_uuid.uuid4().hex[:8]}"
    s = (
        spark.readStream.format(FORMAT_NAME)
        .option("n_rows", 300)
        .option("rows_per_partition", 100)
        .load()
    )
    q = (
        s.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    row = spark.sql(f"select count(*) c, count(distinct event_id) d from {name}").collect()[0]
    assert (row.c, row.d) == (300, 300)


def test_write_with_audit_single_pass(spark, sf_dir, tmp_path):
    from gluettalax_spark.sources.io import write_with_audit

    docs = load(spark, sf_dir, "documents")
    out = str(tmp_path / "audited")
    m = write_with_audit(docs, out, audit_cols=("lang", "text"))
    assert m["n_rows"] == docs.count()
    assert m["n_null_lang"] == docs.filter(F.col("lang").isNull()).count()
    assert spark.read.parquet(out).count() == m["n_rows"]


def test_write_training_shards_layout_and_stability(spark, sf_dir, tmp_path):
    """Every document lands in the shard the summary query predicts; one
    file per shard directory; a re-export after an input repartition
    produces identical shard membership."""
    from gluettalax_spark.operators.pipeline import shard_col
    from gluettalax_spark.sources.io import write_training_shards
    from gluettalax_spark.tables import load
    import glob
    import pyspark.sql.functions as F

    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    out = str(tmp_path / "shards")
    write_training_shards(docs, out, n_shards=8)

    back = spark.read.parquet(out)
    assert back.count() == docs.count()
    # membership matches shard_col
    bad = back.withColumn("want", shard_col(F.col("doc_id"), 8)).filter(
        F.col("shard") != F.col("want")
    )
    assert bad.count() == 0
    # one data file per shard dir
    for d in glob.glob(f"{out}/shard=*"):
        files = [f for f in glob.glob(f"{d}/*.parquet")]
        assert len(files) == 1, d
    # stability across input layout
    out2 = str(tmp_path / "shards2")
    write_training_shards(docs.repartition(13), out2, n_shards=8)
    a = {(r["doc_id"], r["shard"]) for r in back.select("doc_id", "shard").collect()}
    b = {(r["doc_id"], r["shard"]) for r in spark.read.parquet(out2).select("doc_id", "shard").collect()}
    assert a == b


def test_zorder_write_prunes_both_dimensions(spark, sf_dir, tmp_path):
    """write_zorder clusters BOTH columns: for a point predicate on either
    dimension, the fraction of files whose footer [min, max] admits the
    value must beat the unclustered layout on both columns at once (a
    single-column sort can only win on its own column)."""
    import glob as _glob

    import pyarrow.parquet as pq

    from gluettalax_spark.sources.io import write_zorder

    li = load(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey", "l_quantity")
    out_z = str(tmp_path / "li_z")
    out_flat = str(tmp_path / "li_flat")
    write_zorder(li, out_z, "l_partkey", "l_suppkey", n_files=8)
    li.repartition(8).write.mode("overwrite").parquet(out_flat)

    def file_ranges(path, col):
        out = []
        for f in _glob.glob(f"{path}/part-*.parquet"):
            md = pq.ParquetFile(f).metadata
            ci = next(
                i for i in range(md.num_columns)
                if md.row_group(0).column(i).path_in_schema == col
            )
            stats = [md.row_group(rg).column(ci).statistics for rg in range(md.num_row_groups)]
            out.append((min(s.min for s in stats), max(s.max for s in stats)))
        return out

    def hit_fraction(path, col, probes):
        ranges = file_ranges(path, col)
        hits = sum(1 for v in probes for (lo, hi) in ranges if lo <= v <= hi)
        return hits / (len(probes) * len(ranges))

    # Probe 16 evenly spaced values per dimension.
    lo_p, hi_p, lo_s, hi_s = li.selectExpr(
        "min(l_partkey)", "max(l_partkey)", "min(l_suppkey)", "max(l_suppkey)"
    ).collect()[0]
    probes_p = [int(lo_p + (hi_p - lo_p) * i / 15) for i in range(16)]
    probes_s = [int(lo_s + (hi_s - lo_s) * i / 15) for i in range(16)]

    for col, probes in (("l_partkey", probes_p), ("l_suppkey", probes_s)):
        frac_z = hit_fraction(out_z, col, probes)
        frac_flat = hit_fraction(out_flat, col, probes)
        # Unclustered files each span ~the whole domain (fraction ≈ 1);
        # z-ordered files cover rectangles, so a point value falls inside
        # a strict subset of files on BOTH dimensions.
        assert frac_z < frac_flat * 0.8, (col, frac_z, frac_flat)

    assert spark.read.parquet(out_z).count() == li.count()


# --------------------------------------------------------------------------
# Python Data Source WRITER (jsonl_manifest two-phase commit sink)
# --------------------------------------------------------------------------


def _manifest(path):
    import json as _json

    with open(f"{path}/_MANIFEST.json") as fh:
        return _json.load(fh)


@pytest.mark.slow  # gate tier (make gate): heavyweight recompute/replay (r13 tiering)
def test_manifest_sink_roundtrip_and_modes(spark, tmp_path):
    from gluettalax_spark.sources.pydatasink import FORMAT_NAME, register_manifest_sink

    register_manifest_sink(spark)
    out = str(tmp_path / "msink")
    df = spark.range(100).selectExpr(
        "id", "concat('u', id % 7) AS tag", "CAST(id AS DOUBLE) / 4 AS score"
    )
    df.repartition(4).write.format(FORMAT_NAME).mode("overwrite").save(out)
    m = _manifest(out)
    assert len(m["files"]) == 4 and sum(f["rows"] for f in m["files"]) == 100
    assert not [f for f in os.listdir(out) if f.endswith(".tmp")]

    back = spark.read.format(FORMAT_NAME).load(out)
    assert back.schema == df.schema  # schema travels in the manifest
    assert sorted(r["id"] for r in back.collect()) == list(range(100))
    # one input partition per committed file
    assert back.rdd.getNumPartitions() == 4

    # append adds visibility; overwrite replaces it AND reclaims old files
    df.limit(10).repartition(1).write.format(FORMAT_NAME).mode("append").save(out)
    assert spark.read.format(FORMAT_NAME).load(out).count() == 110
    df.limit(5).repartition(1).write.format(FORMAT_NAME).mode("overwrite").save(out)
    assert spark.read.format(FORMAT_NAME).load(out).count() == 5
    visible = {f["file"] for f in _manifest(out)["files"]}
    on_disk = {f for f in os.listdir(out) if f.startswith("part-")}
    assert on_disk == visible


def test_manifest_sink_abort_leaves_nothing_visible(spark, tmp_path):
    from pyspark.sql import functions as F

    from gluettalax_spark.sources.pydatasink import FORMAT_NAME, register_manifest_sink

    register_manifest_sink(spark)
    out = str(tmp_path / "msink_abort")
    boom = F.udf(lambda i: (_ for _ in ()).throw(ValueError("boom")) if i == 99 else i, "long")
    df = spark.range(100).select(boom("id").alias("id"))
    import pytest as _pytest

    with _pytest.raises(Exception):
        df.repartition(4).write.format(FORMAT_NAME).mode("overwrite").save(out)
    # failed job: no manifest flip, no visible part files
    assert not os.path.exists(f"{out}/_MANIFEST.json")
    assert not [f for f in os.listdir(out) if f.startswith("part-") and not f.endswith(".tmp")] if os.path.exists(out) else True


@pytest.mark.slow  # gate tier (make gate): heavyweight recompute/replay (r13 tiering)
def test_manifest_sink_streaming_batches_and_replay(spark, tmp_path):
    from gluettalax_spark.sources.pydatasink import (
        FORMAT_NAME,
        _FileCommit,
        _JsonlManifestStreamWriter,
        register_manifest_sink,
    )
    from gluettalax_spark.sources.pydatasource import (
        FORMAT_NAME as SRC_FORMAT,
        register_synthetic_source,
    )

    register_manifest_sink(spark)
    register_synthetic_source(spark)
    out = str(tmp_path / "msink_stream")
    q = (
        spark.readStream.format(SRC_FORMAT)
        .option("n_rows", 60)
        .option("rows_per_partition", 25)
        .load()
        .selectExpr("event_id", "event_type")
        .writeStream.format(FORMAT_NAME)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start(out)
    )
    q.awaitTermination(60)
    m = _manifest(out)
    assert sum(f["rows"] for f in m["files"]) == 60
    assert m["batches"], "per-batch bookkeeping must exist"
    assert spark.read.format(FORMAT_NAME).load(out).count() == 60

    # Replayed batch id replaces its own output instead of duplicating it
    # (driven directly -- rigging a real replay needs a checkpoint crash).
    out2 = str(tmp_path / "msink_replay")
    os.makedirs(out2, exist_ok=True)
    w = _JsonlManifestStreamWriter({"path": out2}, spark.range(1).schema)
    p1 = f"{out2}/part-aaa.jsonl.tmp"
    with open(p1, "w") as fh:
        fh.write("[1]\n")
    w.commit([_FileCommit(p1, 1)], 7)
    p2 = f"{out2}/part-bbb.jsonl.tmp"
    with open(p2, "w") as fh:
        fh.write("[2]\n")
    w.commit([_FileCommit(p2, 1)], 7)
    m2 = _manifest(out2)
    assert [f["file"] for f in m2["files"]] == ["part-bbb.jsonl"]
    assert not os.path.exists(f"{out2}/part-aaa.jsonl")


def test_manifest_sink_parquet_tasks_roundtrip_binary(spark, tmp_path):
    """The production-shaped task format: per-task parquet under the same
    commit protocol, so binary/timestamp columns round-trip exactly
    (the multimodal case JSONL can't carry)."""
    from gluettalax_spark.sources.pydatasink import FORMAT_NAME, register_manifest_sink

    register_manifest_sink(spark)
    out = str(tmp_path / "msink_pq")
    df = spark.range(40).selectExpr(
        "id",
        "CAST(concat('payload-', id) AS BINARY) AS payload",
        "timestamp'2024-03-01 12:00:00' + make_interval(0,0,0,0,0,0,id) AS ts",
    )
    (
        df.repartition(2)
        .write.format(FORMAT_NAME)
        .option("format", "parquet")
        .mode("overwrite")
        .save(out)
    )
    m = _manifest(out)
    assert all(f["file"].endswith(".parquet") for f in m["files"])
    back = spark.read.format(FORMAT_NAME).load(out)
    assert back.schema == df.schema
    a = sorted(map(repr, df.collect()))
    b = sorted(map(repr, back.collect()))
    assert a == b


@pytest.mark.slow  # gate tier (make gate): heavyweight recompute/replay (r13 tiering)
def test_manifest_sink_compaction_batch_and_streaming(spark, tmp_path):
    """compact_manifest_sink must preserve every row, collapse the file
    count to the bin target, leave no temp files, and keep streaming
    batch commits consistent ON TOP of the compacted baseline."""
    from gluettalax_spark.sources.pydatasink import (
        FORMAT_NAME,
        compact_manifest_sink,
        register_manifest_sink,
    )

    register_manifest_sink(spark)

    # ---- batch manifest: 8 small files -> 2 compacted bins
    out = str(tmp_path / "msink_c")
    df = spark.range(200).selectExpr("id", "concat('u', id % 7) AS tag")
    df.repartition(8).write.format(FORMAT_NAME).mode("overwrite").save(out)
    assert len(_manifest(out)["files"]) == 8

    man = compact_manifest_sink(out, target_rows=100)
    assert 2 <= len(man["files"]) <= 3  # 200 rows / 100-row bins
    assert sum(f["rows"] for f in man["files"]) == 200
    assert not [f for f in os.listdir(out) if f.endswith(".tmp")]
    # superseded physical files reclaimed; only compacted files remain
    data_files = [f for f in os.listdir(out) if not f.startswith("_")]
    assert all(f.startswith("compact-") for f in data_files)

    back = spark.read.format(FORMAT_NAME).load(out)
    assert sorted(r["id"] for r in back.collect()) == list(range(200))
    assert back.schema == df.schema

    # idempotence-ish: compacting a compacted sink keeps all rows visible
    compact_manifest_sink(out, target_rows=1000)
    assert spark.read.format(FORMAT_NAME).load(out).count() == 200

    # ---- streaming manifest: batches collapse to a _compacted baseline
    sout = str(tmp_path / "msink_s")
    src = str(tmp_path / "src")
    spark.range(30).selectExpr("id", "CAST(id AS STRING) AS s").write.parquet(src)
    stream = spark.readStream.schema("id long, s string").parquet(src)
    q = (
        stream.writeStream.format(FORMAT_NAME)
        .option("path", sout)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    n0 = spark.read.format(FORMAT_NAME).load(sout).count()
    assert n0 == 30

    man_s = compact_manifest_sink(sout, target_rows=10)
    assert set(man_s["batches"]) == {"_compacted"}
    assert spark.read.format(FORMAT_NAME).load(sout).count() == 30

    # a later batch commit rebuilds `files` from batches — the compacted
    # baseline must survive alongside the new batch
    spark.range(30, 40).selectExpr("id", "CAST(id AS STRING) AS s").write.mode(
        "append"
    ).parquet(src)
    q2 = (
        spark.readStream.schema("id long, s string")
        .parquet(src)
        .writeStream.format(FORMAT_NAME)
        .option("path", sout)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    got = sorted(r["id"] for r in spark.read.format(FORMAT_NAME).load(sout).collect())
    assert got == list(range(40))
