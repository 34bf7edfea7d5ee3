"""``tables.load``'s schema cache: a repeat read runs no Spark job, a
rewritten file or a toggled reader conf is inferred again, the events
NANOS layout reads with the legacy conf off. Tmp parquet files only, no
fixture (tests/test_correctness.py checks every fixture table)."""

from __future__ import annotations

import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, StringType

from gluettalax_spark.tables import load
from tests.harness import jobs_in_group

NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"


def _write(path, columns: dict) -> None:
    pq.write_table(pa.table(columns), str(path))


def test_repeat_load_runs_no_job(spark, tmp_path):
    _write(tmp_path / "orders.parquet", {"o_orderkey": pa.array([1, 2, 3], pa.int64())})
    d = str(tmp_path)
    assert jobs_in_group(spark, lambda: load(spark, d, "orders"))  # inference is a job
    assert jobs_in_group(spark, lambda: load(spark, d, "orders")) == []
    assert sorted(r.o_orderkey for r in load(spark, d, "orders").collect()) == [1, 2, 3]


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    d = str(tmp_path)
    _write(tmp_path / "part.parquet", {"p_partkey": pa.array([1, 2], pa.int64())})
    assert load(spark, d, "part").columns == ["p_partkey"]
    time.sleep(0.01)  # a later mtime even on coarse-clock filesystems
    _write(tmp_path / "part.parquet", {"p_name": pa.array(["a", "b", "c"])})
    df = load(spark, d, "part")
    assert df.columns == ["p_name"]
    assert sorted(r.p_name for r in df.collect()) == ["a", "b", "c"]


def test_rewritten_spark_directory_is_inferred_again(spark, tmp_path):
    d = str(tmp_path)
    path = f"{d}/documents.parquet"
    spark.range(3).write.parquet(path)
    assert load(spark, d, "documents").columns == ["id"]
    time.sleep(0.01)
    spark.range(2).select(
        (F.col("id") + 10).alias("doc_id"), F.lit("t").alias("text")
    ).write.mode("overwrite").parquet(path)
    df = load(spark, d, "documents")
    assert dict(df.dtypes) == {"doc_id": "bigint", "text": "string"}
    assert sorted(r.doc_id for r in df.collect()) == [10, 11]


def test_missing_file_is_not_cached(spark, tmp_path):
    d = str(tmp_path)
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        load(spark, d, "region")
    _write(tmp_path / "region.parquet", {"r_regionkey": pa.array([0], pa.int64())})
    assert [r.r_regionkey for r in load(spark, d, "region").collect()] == [0]


def test_reader_conf_is_in_the_key(spark, tmp_path):
    """``binaryAsString`` changes the inferred type of a BINARY column, so
    toggling it must not serve the other setting's schema."""
    _write(tmp_path / "nation.parquet", {"n_name": pa.array([b"x", b"y"], pa.binary())})
    d = str(tmp_path)
    key = "spark.sql.parquet.binaryAsString"
    prev = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "false")
        assert load(spark, d, "nation").schema["n_name"].dataType == BinaryType()
        spark.conf.set(key, "true")
        df = load(spark, d, "nation")
        assert df.schema["n_name"].dataType == StringType()
        assert sorted(r.n_name for r in df.collect()) == ["x", "y"]
        spark.conf.set(key, "false")
        assert load(spark, d, "nation").schema["n_name"].dataType == BinaryType()
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def test_batch_events_nanos_read_with_conf_off(spark, tmp_path):
    """A genuine TIMESTAMP(NANOS) events file loads as TIMESTAMP,
    truncated ns → µs, while the legacy conf stays unset."""
    n = 5
    base_ns = 1_700_000_000_000_000_000
    _write(
        tmp_path / "events.parquet",
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            # +999 ns: sub-µs precision that truncation (not rounding) drops.
            "ts": pa.array((base_ns + np.arange(n) * 1_000_000_000 + 999).astype("datetime64[ns]")),
        },
    )
    assert str(pq.read_schema(str(tmp_path / "events.parquet")).field("ts").type) == "timestamp[ns]"
    assert spark.conf.get(NANOS_CONF, None) is None
    df = load(spark, str(tmp_path), "events")
    assert spark.conf.get(NANOS_CONF, None) is None
    assert dict(df.dtypes)["ts"] == "timestamp"
    got = sorted(tuple(r) for r in df.select("event_id", F.unix_micros("ts")).collect())
    assert got == [(i, base_ns // 1000 + i * 1_000_000) for i in range(n)]
    assert spark.conf.get(NANOS_CONF, None) is None
