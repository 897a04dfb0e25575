"""Sharded-manifest pins (r16, VERDICT r15 #1).

The warehouse commit lock was ONE flock: BENCH_SELF measured commit
p95 0.95ms -> 93ms from 1 -> 16 concurrent committers.  The manifest
state is now hash-shardable BY CONTAINER (the reference's isolation
unit, logger.rs:250-251) into N independent ManifestTables over one
shared data tree; batch exactly-once holds via per-shard dedupe plus
a per-scope completion watermark file written LAST (atomic rename).
These tests pin the protocol; the contention numbers live in
BENCH_SELF's commit_contention table, and the duo/stream kill soaks
run the sharded configuration via tools/soak.py --shards.
"""

import json
import multiprocessing as mp
import time
from pathlib import Path

import pytest

from logsqlite_spark.table import (
    CommitConflict,
    ManifestTable,
    ShardedManifestTable,
    init_sharded_table,
    open_table,
    table_shard_count,
)


def _mk(tmp_path, n=8) -> ShardedManifestTable:
    root = str(tmp_path / "t")
    init_sharded_table(root, n)
    t = open_table(root)
    assert isinstance(t, ShardedManifestTable)
    return t


def _rel(cid: str, k: int) -> str:
    return f"container_id={cid}/date=2024-01-01/f{k}.parquet"


# --- factory / marker -------------------------------------------------

def test_open_table_follows_marker(tmp_path):
    root = str(tmp_path / "t")
    assert table_shard_count(root) == 1
    assert isinstance(open_table(root), ManifestTable)
    init_sharded_table(root, 8)
    assert table_shard_count(root) == 8
    assert isinstance(open_table(root), ShardedManifestTable)
    init_sharded_table(root, 8)  # idempotent
    with pytest.raises(ValueError, match="re-shard"):
        init_sharded_table(root, 16)


def test_cannot_shard_existing_single_manifest(tmp_path):
    root = str(tmp_path / "t")
    t = ManifestTable(root)
    t.commit_append([_rel("c1", 0)], "s", None, {"c1": 1}, {})
    with pytest.raises(ValueError, match="single-manifest"):
        init_sharded_table(root, 8)


# --- merged views over per-shard state --------------------------------

def test_merged_manifest_and_per_shard_isolation(tmp_path):
    t = _mk(tmp_path, 8)
    cids = [f"c{i}" for i in range(10)]
    for i, cid in enumerate(cids):
        t.commit_append([_rel(cid, 0)], f"scope-{cid}", 0,
                        {cid: 3}, {cid: f"/spool/{cid}/000.plog"})
    m = t.manifest()
    assert len(m["files"]) == 10
    assert all(m["high_water"][c] == 3 for c in cids)
    assert all(m["last_file"][c].endswith("000.plog") for c in cids)
    assert all(m["batch_ids"][f"scope-{c}"] == 0 for c in cids)
    # each container's state lives in exactly ONE shard
    for cid in cids:
        k = t.shard_for_container(cid)
        assert t.shards[k].head().get("high_water", {}).get(cid) == 3
        others = [s for j, s in enumerate(t.shards) if j != k]
        assert all(cid not in s.head().get("high_water", {})
                   for s in others)
    # generation is the sum of shard generations (monotone)
    g0 = t.manifest()["generation"]
    t.commit_append([_rel("c0", 1)], "scope-c0", 1, {"c0": 1}, {})
    assert t.manifest()["generation"] > g0


def test_update_state_routes_to_owner_shards(tmp_path):
    t = _mk(tmp_path, 8)
    t.commit_append([_rel("a", 0), _rel("b", 0)], "mux", 0,
                    {"a": 1, "b": 1}, {})
    t.update_state(last_file={"a": "/s/a/7.plog", "b": "/s/b/9.plog"})
    m = t.head()
    assert m["last_file"] == {"a": "/s/a/7.plog", "b": "/s/b/9.plog"}


# --- cross-shard batch exactly-once -----------------------------------

def test_batch_replay_dedupes_per_shard(tmp_path):
    t = _mk(tmp_path, 8)
    files = [_rel("a", 0), _rel("b", 0), _rel("c", 0)]
    incs = {"a": 2, "b": 2, "c": 2}
    out = t.commit_append(files, "mux", 5, incs, {})
    assert out is not None and out["high_water"] == {"a": 2, "b": 2,
                                                     "c": 2}
    # full replay: every shard had the batch -> None, nothing doubles
    assert t.commit_append(files, "mux", 5, incs, {}) is None
    m = t.manifest()
    assert m["high_water"] == {"a": 2, "b": 2, "c": 2}
    assert len(m["files"]) == 3
    assert m["batch_ids"]["mux"] == 5


def test_crash_mid_fanout_replay_completes_without_duplicates(tmp_path):
    """The crash window: some data shards committed batch N, the
    scope watermark never landed.  The replay pre-check must say
    NOT-committed, the done shards must dedupe, the missing shards
    must commit — per-container exactly-once."""
    t = _mk(tmp_path, 8)
    t.commit_append([_rel("a", 0), _rel("b", 0)], "mux", 0,
                    {"a": 1, "b": 1}, {})

    # simulate the crash by committing batch 1 to ONLY a's shard
    ka = t.shard_for_container("a")
    t.shards[ka].commit_append([_rel("a", 1)], "mux", 1, {"a": 1}, {})
    assert t.head()["batch_ids"]["mux"] == 0  # pre-check: not done

    # replay of the full batch 1
    out = t.commit_append([_rel("a", 1), _rel("b", 1)], "mux", 1,
                          {"a": 1, "b": 1}, {})
    assert out is not None
    m = t.manifest()
    assert m["batch_ids"]["mux"] == 1
    assert m["high_water"] == {"a": 2, "b": 2}  # a did NOT double
    assert sorted(m["files"]) == sorted(
        [_rel("a", 0), _rel("b", 0), _rel("a", 1), _rel("b", 1)])


def test_crash_after_full_fanout_replay_returns_none(tmp_path):
    """Crash AFTER every data shard committed but BEFORE the scope
    watermark: the replay finishes the watermark and returns None so
    the caller never re-publishes the batch's rows."""
    t = _mk(tmp_path, 8)
    for cid in ("a", "b"):
        k = t.shard_for_container(cid)
        t.shards[k].commit_append([_rel(cid, 0)], "mux", 0, {cid: 1}, {})
    assert t.head()["batch_ids"].get("mux", -1) == -1
    out = t.commit_append([_rel("a", 0), _rel("b", 0)], "mux", 0,
                          {"a": 1, "b": 1}, {})
    assert out is None
    assert t.head()["batch_ids"]["mux"] == 0
    m = t.manifest()
    assert m["high_water"] == {"a": 1, "b": 1} and len(m["files"]) == 2


# --- maintenance ------------------------------------------------------

def _touch(t, rel: str) -> None:
    p = Path(t.dir) / rel
    p.parent.mkdir(parents=True, exist_ok=True)
    p.write_bytes(b"x")


def test_commit_replace_across_shards_and_conflict(tmp_path):
    t = _mk(tmp_path, 8)
    files = [_rel(c, k) for c in ("a", "b") for k in range(2)]
    t.commit_append(files, "mux", 0, {"a": 2, "b": 2}, {})
    # cross-shard replace: compact each container's two files into one
    t.commit_replace(files, [_rel("a", 9), _rel("b", 9)])
    m = t.manifest()
    assert sorted(m["files"]) == [_rel("a", 9), _rel("b", 9)]
    # conflict: removing an already-removed file raises, and the
    # OTHER shard's replace still applied (per-container atomicity)
    with pytest.raises(CommitConflict, match="declined"):
        t.commit_replace([_rel("a", 0), _rel("b", 9)], [_rel("b", 10)])
    m = t.manifest()
    assert _rel("b", 10) in m["files"]  # b's shard applied
    assert _rel("a", 9) in m["files"]   # a untouched


def test_drop_container_single_shard(tmp_path):
    t = _mk(tmp_path, 8)
    t.commit_append([_rel("a", 0), _rel("b", 0)], "mux", 0,
                    {"a": 1, "b": 1}, {"a": "/s/a/0", "b": "/s/b/0"})
    n = t.drop_container("a")
    assert n == 1
    m = t.manifest()
    assert m["files"] == [_rel("b", 0)]
    assert "a" not in m["high_water"] and "a" not in m["last_file"]


def test_gc_unions_shards_and_respects_abort(tmp_path):
    t = _mk(tmp_path, 4)
    for cid in ("a", "b", "c", "d", "e", "f"):
        t.commit_append([_rel(cid, 0)], f"s-{cid}", 0, {cid: 1}, {})
        _touch(t, _rel(cid, 0))
    # retire a's file; its bytes become collectible after the window
    t.commit_replace([_rel("a", 0)], [_rel("a", 1)])
    _touch(t, _rel("a", 1))
    # age every shard out of the keep window
    for _ in range(3):
        for cid in ("b", "c"):
            t.update_state(last_file={cid: "/tick"})
        t.commit_append([], "s-a", None, {}, {})
    res = t.gc(keep_generations=1, grace_s=0.0)
    assert res["deleted_files"] == 1
    assert not (Path(t.dir) / _rel("a", 0)).exists()
    assert (Path(t.dir) / _rel("a", 1)).exists()
    live = {f for f in t.manifest()["files"]}
    assert all((Path(t.dir) / f).exists() for f in live)

    # abort path: blow away one shard's newest head -> that shard's
    # files are spared even though unreferenced-by-what-was-read
    victim_cid = "b"
    k = t.shard_for_container(victim_cid)
    sh = t.shards[k]
    gen = int(sh.current_ptr.read_text())
    (sh.manifests / f"{gen:08d}.json").unlink()
    res2 = t.gc(keep_generations=1, grace_s=0.0)
    assert res2.get("aborted_stale_head") is True
    assert (Path(t.dir) / _rel(victim_cid, 0)).exists()


# --- concurrent committers (process model) -----------------------------

def _committer(args):
    root, i, k_commits = args
    t = open_table(root)
    for k in range(k_commits):
        t.commit_append([_rel(f"w{i}", k)], f"sc{i}", k, {f"w{i}": 1}, {})
    return i


def test_concurrent_process_committers_lose_nothing(tmp_path):
    root = str(tmp_path / "t")
    init_sharded_table(root, 16)
    t = open_table(root)
    n, k = 8, 6
    with mp.get_context("fork").Pool(n) as pool:
        pool.map(_committer, [(root, i, k) for i in range(n)])
    m = t.manifest()
    assert all(m["high_water"][f"w{i}"] == k for i in range(n))
    assert len(m["files"]) == n * k
    assert all(m["batch_ids"][f"sc{i}"] == k - 1 for i in range(n))


# --- engine integration -------------------------------------------------

def test_engine_sharded_ingest_read_retention(spark, tmp_path):
    from pyspark.sql import functions as F

    from logsqlite_spark.api import Engine
    from logsqlite_spark.config import EngineConfig
    from logsqlite_spark.sources.frames import LogEntry
    from logsqlite_spark.sources.spool import SpoolWriter

    BASE = 1_704_067_200_000_000_000
    cfg = EngineConfig(warehouse_dir=str(tmp_path / "wh"),
                       manifest_shards=8)
    eng = Engine(spark, cfg)
    for i in range(5):
        w = SpoolWriter(cfg.spool_dir, f"c{i}")
        w.write_burst([LogEntry(source="stdout",
                                time_nano=BASE + j * 10**9,
                                line=f"l{j}".encode())
                       for j in range(10)])
    res = eng.ingest_once()
    assert res["rows"] == 50
    # second pull continues seqs per container
    for i in range(5):
        w = SpoolWriter(cfg.spool_dir, f"c{i}")
        w.write_burst([LogEntry(source="stdout",
                                time_nano=BASE + (10 + j) * 10**9,
                                line=f"l{10 + j}".encode())
                       for j in range(4)])
    assert eng.ingest_once()["rows"] == 20
    agg = (eng.logs_df().groupBy("container_id")
           .agg(F.count("*").alias("n"), F.max("seq").alias("mx"))
           .collect())
    assert {(r["container_id"], r["n"], r["mx"]) for r in agg} \
        == {(f"c{i}", 14, 14) for i in range(5)}
    assert len(eng.read_logs("c2").collect()) == 14
    # global time travel is per-shard in sharded mode
    with pytest.raises(NotImplementedError):
        eng.logs_df_at(1)
    # maintenance + gc end-to-end
    eng.cleanup_all()
    g = eng.table.gc(keep_generations=1, grace_s=0)
    assert eng.logs_df().count() == 70
    # warehouse reopened by a second engine instance follows the marker
    eng2 = Engine(spark, EngineConfig(warehouse_dir=str(tmp_path / "wh")))
    assert isinstance(eng2.table, ShardedManifestTable)
    assert eng2.logs_df().count() == 70


def test_scan_sharded_matches_single_manifest(spark, tmp_path):
    """The driver-side scan (ReadLogs, follow history and resync) reads
    a sharded warehouse's merged snapshot exactly like a single-manifest
    one: same rows, same order, for every read parameter."""
    from logsqlite_spark.api import Engine
    from logsqlite_spark.config import EngineConfig
    from logsqlite_spark.operators.read import rows_of
    from logsqlite_spark.sources.frames import LogEntry
    from logsqlite_spark.sources.spool import SpoolWriter

    BASE = 1_704_067_200_000_000_000
    engines = [Engine(spark, EngineConfig(
        warehouse_dir=str(tmp_path / f"wh{n}"), manifest_shards=n))
        for n in (1, 4)]
    assert isinstance(engines[1].table, ShardedManifestTable)
    cids = ["c0", "c1", "x:y"]
    for burst in range(2):
        for eng in engines:
            for i, cid in enumerate(cids):
                SpoolWriter(eng.config.spool_dir, cid).write_burst([
                    LogEntry(source="stdout",
                             time_nano=BASE + (burst * 10 + j) * 3600 * 10**9,
                             line=f"{cid} {burst} {j}".encode())
                    for j in range(5 + i)])
            eng.ingest_once()

    def read(eng, cid, **kw):
        return [(r["seq"], r["ts_nanos"], r["line"], r["date"])
                for t in eng.scan(cid, **kw) for r in rows_of(t, cid)]

    for cid in cids + ["nope"]:
        for kw in ({}, {"tail": 3}, {"cursor": 4},
                   {"since": "2024-01-01T12:00:00Z", "tail": 2},
                   {"until": "2024-01-01T03:00:00Z"}):
            single = read(engines[0], cid, **kw)
            assert read(engines[1], cid, **kw) == single, (cid, kw)
            if cid != "nope" and not kw:
                assert [s for s, *_ in single] == \
                    list(range(1, len(single) + 1))
