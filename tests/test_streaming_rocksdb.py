"""Provider-independence of the stateful streaming plane: the T7
first-seen dedup and T5 user-totals state operators produce IDENTICAL
results under the RocksDB state store provider — the production backend
at 10^12-key scale (per-key state must spill to disk; the default
HDFS-backed provider holds it in executor memory). rocksdbjni ships with
Spark 4, so this runs in-sandbox. The tests set the provider on the
session conf; a deployment passes the same key to `get_spark(extra_conf=...)`
or `spark-submit --conf`."""

from __future__ import annotations

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

ROCKSDB = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"


@pytest.fixture()
def rocksdb_provider(spark):
    """Set the RocksDB provider for queries started inside the test;
    restore the session default afterwards (provider choice is read at
    query start from the session conf)."""
    try:
        prev = spark.conf.get(PROVIDER_KEY)
    except Exception:
        prev = None
    spark.conf.set(PROVIDER_KEY, ROCKSDB)
    yield
    if prev is None:
        spark.conf.unset(PROVIDER_KEY)
    else:
        spark.conf.set(PROVIDER_KEY, prev)


def _stage_flat(df, drop_dir, name):
    tmp = str(drop_dir) + "_tmp"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    os.makedirs(drop_dir, exist_ok=True)
    (part,) = glob.glob(os.path.join(tmp, "part-*.parquet"))
    shutil.move(part, os.path.join(str(drop_dir), f"{name}.parquet"))
    shutil.rmtree(tmp)


def test_first_seen_rocksdb_matches_oracle_and_restarts(
    spark, tmp_path, rocksdb_provider
):
    """T7 under RocksDB: same dedup + exactly-once-across-restart
    contract the default-provider test pins (test_streaming.py)."""
    from docling_nlp_api_spark.streaming import first_seen_stream, read_doc_stream

    drop = tmp_path / "drop"
    ck = str(tmp_path / "ck")
    out = str(tmp_path / "out")

    def run_to_parquet():
        q = (
            first_seen_stream(read_doc_stream(spark, str(drop)))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {r.doc_id for r in spark.read.parquet(out).collect()}

    c0 = spark.createDataFrame(
        [(2, "xx"), (1, "xx"), (3, "yy")], "doc_id long, text string"
    )
    c1 = spark.createDataFrame([(4, "xx"), (5, "zz")], "doc_id long, text string")
    _stage_flat(c0, drop, "chunk_000")
    _stage_flat(c1, drop, "chunk_001")
    assert run_to_parquet() == {1, 3, 5}

    # restart over the same (RocksDB) checkpoint: state survives
    c2 = spark.createDataFrame([(6, "xx"), (7, "ww")], "doc_id long, text string")
    _stage_flat(c2, drop, "chunk_002")
    assert run_to_parquet() == {1, 3, 5, 7}


def test_user_totals_rocksdb_matches_batch(spark, tmp_path, rocksdb_provider):
    """T5 under RocksDB: the applyInPandasWithState running totals equal
    the batch groupBy over the same events (the default-provider contract
    of test_streaming.py::test_user_totals_state_matches_batch)."""
    from docling_nlp_api_spark.streaming.events import (
        read_event_stream,
        run_available_now,
        stage_event_chunks,
        user_totals_stream,
    )

    sf = "/root/testdata/sf0.001"
    drop = stage_event_chunks(spark, sf, str(tmp_path / "edrop"), n_chunks=3)
    res = run_available_now(
        user_totals_stream(read_event_stream(spark, drop), ttl_days=365),
        output_mode="update",
        checkpoint_dir=str(tmp_path / "eck"),
    )
    final = (
        res.filter(~F.col("expired"))
        .groupBy("user_id")
        .agg(F.max("events").alias("events"), F.max("total_value").alias("total_value"))
    )
    batch = (
        spark.read.parquet(f"{sf}/events.parquet")
        .groupBy("user_id")
        .agg(F.count("*").alias("events"), F.round(F.sum("value"), 2).alias("total_value"))
    )
    assert sorted(map(tuple, final.collect())) == sorted(map(tuple, batch.collect()))
