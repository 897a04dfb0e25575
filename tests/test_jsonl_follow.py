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
    # the JSON field decode is from_json in the JVM: no Python UDF
    # evaluation node (only the Arrow line split runs in Python)
    from logsqlite_spark.sources.jsonl import read_jsonl_spool_batch

    w = JsonlSpoolWriter(warehouse.spool_dir, "cj")
    w.write_burst(_recs(BASE_TS, 2))
    df = read_jsonl_spool_batch(spark, warehouse.spool_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "MapInPandas" not in plan
    assert "from_json" in plan


def _raw_jsonl(d, lines, compress):
    """One spool file holding ``lines`` verbatim, name-monotonic."""
    import gzip

    d.mkdir(parents=True, exist_ok=True)
    blob = ("\n".join(lines) + "\n").encode()
    name = f"{time.time_ns():020d}-000000.jsonl"
    if compress:
        blob, name = gzip.compress(blob), name + ".gz"
    (d / name).write_bytes(blob)


@pytest.mark.parametrize("compress", [False, True], ids=["plain", "gz"])
def test_jsonl_mistyped_field_quarantined_on_pull(spark, warehouse,
                                                  compress):
    """A record whose typed field has the wrong JSON type is one
    decode error on a pull, plain or gzipped alike: the other lines
    commit and the container's next pull is not blocked."""
    import json
    from pathlib import Path

    d = Path(warehouse.spool_dir) / "cj"
    _raw_jsonl(d, [
        json.dumps({"n": 0, "time_nano": BASE_TS, "line": "a"}),
        '{"n":1,"time_nano":"abc","line":"b"}',
        json.dumps({"n": 2, "time_nano": BASE_TS + 1, "line": "c"}),
    ], compress)
    res = ingest_spool_once(spark, warehouse.spool_dir, warehouse.logs_dir,
                            warehouse.state_dir, fmt="jsonl")
    assert res["rows"] == 2 and res["decode_errors"] == 1
    JsonlSpoolWriter(warehouse.spool_dir, "cj").write_burst(
        _recs(BASE_TS + 10**11, 1))
    res = ingest_spool_once(spark, warehouse.spool_dir, warehouse.logs_dir,
                            warehouse.state_dir, fmt="jsonl")
    assert res["rows"] == 1
    logs = spark.read.parquet(warehouse.logs_dir).orderBy("seq").collect()
    assert [(r["seq"], r["line"]) for r in logs] == \
        [(1, "a\n"), (2, "c\n"), (3, "j0\n")]


def test_follow_tail_skips_exactly_the_lines_ingest_quarantines(spark,
                                                                warehouse):
    """The spool tail decodes JSONL on the driver; on a file mixing
    good records with lines ingest quarantines (non-objects, wrongly
    typed fields) and numbers read into the string ``line`` field, it
    emits the same rows, with the same seqs and text, as a pull then
    commits — and the bad lines do not end the follow."""
    import json
    from pathlib import Path

    from logsqlite_spark.api import Engine

    eng = Engine(spark, warehouse)
    eng.start_logging("cj", None, {"delete_when_stopped": "false"})
    good = [json.dumps({"n": i, "source": "stdout",
                        "time_nano": BASE_TS + i, "line": f"g{i}"})
            for i in range(4)]
    _raw_jsonl(Path(warehouse.spool_dir) / "cj", [
        good[0], "null", "[1]", '"x"', good[1],
        '{"time_nano":"abc"}', '{"n":9,"partial":"yes"}',
        '{"n":10,"partial_meta":{"ordinal":3000000000}}',
        '{"n":11,"time_nano":1.5}', "{not json}", good[2],
        '{"n":12,"line":5,"source":true}',
        '{"n":13,"line":"tail-junk"} trailing',
        '{"n":14,"line":"pm","partial":true,'
        '"partial_meta":{"last":true,"id":"p","ordinal":2,"zz":1}}',
        good[3],
        '{"n":15,"line":1e20}', '{"n":16,"line":NaN}',
        '{"n":17,"line":{"a":[1e-7,2.5e7,true]}}',
    ], compress=False)

    def key(r):
        pm = r["partial_meta"]
        return (r["seq"], r["source"], r["ts_nanos"], r["line"],
                r["partial"], None if pm is None else tuple(pm))

    tailed = [key(r) for rows in eng.follow_tail(
        "cj", poll_interval_s=0.02, max_idle_polls=3) for r in rows]
    res = ingest_spool_once(spark, warehouse.spool_dir, warehouse.logs_dir,
                            warehouse.state_dir, "cj", fmt="jsonl")
    assert res["decode_errors"] == 8
    committed = [key(r) for r in
                 eng.read_logs("cj").orderBy("seq").collect()]
    assert [k[3] for k in committed] == [
        "g0\n", "g1\n", "g2\n", "g3\n", "5\n", "tail-junk\n", "pm\n",
        "1.0E20\n", '"NaN"\n', '{"a":[1.0E-7,2.5E7,true]}\n']
    assert tailed == committed
