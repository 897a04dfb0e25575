"""JSONL spool format: writer, batch and streaming decode, ingest."""

import time

import pytest
from pyspark.sql import functions as F

from logsqlite_spark.config import EngineConfig
from logsqlite_spark.sources.jsonl import JsonlSpoolWriter
from logsqlite_spark.streaming.ingest import ingest_spool_once

BASE_TS = 1_704_067_200_000_000_000

def _recs(start_ts, n):
    return [{"source": "stdout", "time_nano": start_ts + i * 10**9,
             "line": f"j{i}"} for i in range(n)]

@pytest.fixture()
def warehouse(tmp_path):
    return EngineConfig(warehouse_dir=str(tmp_path / "wh"))

def test_jsonl_batch_ingest(spark, warehouse):
    w = JsonlSpoolWriter(warehouse.spool_dir, "cj")
    w.write_burst(_recs(BASE_TS, 4))
    w.write_burst(_recs(BASE_TS + 10**11, 2))
    res = ingest_spool_once(spark, warehouse.spool_dir, warehouse.logs_dir,
                            warehouse.state_dir, fmt="jsonl")
    assert res["rows"] == 6
    logs = spark.read.parquet(warehouse.logs_dir).orderBy("seq")
    rows = logs.collect()
    assert [r["seq"] for r in rows] == [1, 2, 3, 4, 5, 6]
    assert rows[0]["line"] == "j0\n"  # canonicalized JVM-side
    assert rows[0]["ts_nanos"] == BASE_TS
    assert rows[0]["container_id"] == "cj"

def test_jsonl_seq_continues_across_ingests(spark, warehouse):
    w = JsonlSpoolWriter(warehouse.spool_dir, "cj")
    w.write_burst(_recs(BASE_TS, 3))
    ingest_spool_once(spark, warehouse.spool_dir, warehouse.logs_dir,
                      warehouse.state_dir, fmt="jsonl")
    w2 = JsonlSpoolWriter(warehouse.spool_dir, "cj")
    w2.write_burst(_recs(BASE_TS + 10**11, 2))
    ingest_spool_once(spark, warehouse.spool_dir, warehouse.logs_dir,
                      warehouse.state_dir, fmt="jsonl")
    logs = spark.read.parquet(warehouse.logs_dir)
    assert sorted(r["seq"] for r in logs.select("seq").collect()) == [1, 2, 3, 4, 5]

def test_jsonl_corrupt_line_quarantined(spark, warehouse):
    import json
    import time as _t
    from pathlib import Path

    d = Path(warehouse.spool_dir) / "cj"
    d.mkdir(parents=True)
    stem = f"{_t.time_ns():020d}-000000"
    (d / f"{stem}.jsonl").write_text(
        json.dumps({"source": "stdout", "time_nano": BASE_TS,
                    "line": "good", "n": 0}) + "\n{not json}\n")
    res = ingest_spool_once(spark, warehouse.spool_dir, warehouse.logs_dir,
                            warehouse.state_dir, fmt="jsonl")
    assert res["rows"] == 1 and res["decode_errors"] == 1
    logs = spark.read.parquet(warehouse.logs_dir)
    assert [r["line"] for r in logs.collect()] == ["good\n"]

def test_jsonl_decode_is_jvm_side(spark, warehouse):
    # the JSONL path must not contain a Python evaluation node
    from logsqlite_spark.sources.jsonl import read_jsonl_spool_batch

    w = JsonlSpoolWriter(warehouse.spool_dir, "cj")
    w.write_burst(_recs(BASE_TS, 2))
    df = read_jsonl_spool_batch(spark, warehouse.spool_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "MapInPandas" not in plan
