"""Manifest table commit protocol (table.py).

The three round-1 holes this closes, each pinned by a test:
1. reader-safety: snapshots never 404 mid-maintenance (test_retention
   covers the read-during-retention path; here: gc generation rules);
2. exactly-once: a replayed batch id aborts inside the commit, so a
   crash between data write and state save cannot duplicate rows;
3. lost concurrent appends: a maintenance commit_replace applied after
   an interleaved commit_append preserves the appended files.
"""

from __future__ import annotations

import json
import threading

import pytest

from logsqlite_spark.streaming.ingest import ingest_spool_once
from logsqlite_spark.sources.frames import LogEntry
from logsqlite_spark.sources.spool import SpoolWriter
from logsqlite_spark.table import ManifestTable

BASE_TS = 1_704_067_200_000_000_000


def _touch(table: ManifestTable, rel: str) -> str:
    p = table.dir / rel
    p.parent.mkdir(parents=True, exist_ok=True)
    p.write_bytes(b"x")
    return rel


def test_commit_append_is_idempotent_per_batch(tmp_path):
    t = ManifestTable(str(tmp_path / "t"))
    f1 = _touch(t, "container_id=c1/date=2024-01-01/a.parquet")
    assert t.commit_append([f1], "s", 0, {"c1": 5}, {"c1": "f0"}) is not None
    # crash replay: same batch id again → no-op, nothing double-counted
    f_dup = _touch(t, "container_id=c1/date=2024-01-01/dup.parquet")
    assert t.commit_append([f_dup], "s", 0, {"c1": 5}, {"c1": "f0"}) is None
    m = t.manifest()
    assert m["files"] == [f1]
    assert m["high_water"] == {"c1": 5}
    # the orphaned duplicate file is unreferenced → gc removes it
    t.gc(keep_generations=1, grace_s=0)
    assert not (t.dir / f_dup).exists()
    assert (t.dir / f1).exists()


def test_batch_scopes_are_independent(tmp_path):
    t = ManifestTable(str(tmp_path / "t"))
    f1 = _touch(t, "container_id=c1/date=d/a.parquet")
    f2 = _touch(t, "container_id=c2/date=d/b.parquet")
    assert t.commit_append([f1], "stream-c1", 7, {"c1": 1}, {}) is not None
    # batch 0 of ANOTHER stream must not be mistaken for a replay
    assert t.commit_append([f2], "stream-c2", 0, {"c2": 1}, {}) is not None
    m = t.manifest()
    assert m["batch_ids"] == {"stream-c1": 7, "stream-c2": 0}
    assert m["high_water"] == {"c1": 1, "c2": 1}


def test_commit_replace_preserves_interleaved_append(tmp_path):
    """The compaction-vs-streaming race from the round-1 review: files
    appended between a maintenance job's snapshot and its commit must
    survive the replace."""
    t = ManifestTable(str(tmp_path / "t"))
    old = [_touch(t, f"container_id=c1/date=d/old{i}.parquet") for i in range(3)]
    t.commit_append(old, "s", None, {}, {})
    snapshot_files = t.manifest()["files"]  # maintenance takes its snapshot

    # ...meanwhile the ingest stream appends a new file
    mid = _touch(t, "container_id=c1/date=d/mid.parquet")
    t.commit_append([mid], "s", None, {}, {})

    # maintenance rewrites ONLY its snapshot's files
    new = _touch(t, "container_id=c1/date=d/compacted.parquet")
    t.commit_replace(snapshot_files, [new])
    assert sorted(t.manifest()["files"]) == sorted([mid, new])


def test_concurrent_commits_serialize_without_lost_updates(tmp_path):
    t = ManifestTable(str(tmp_path / "t"))
    errs = []

    def worker(cid: str):
        try:
            for i in range(20):
                f = _touch(t, f"container_id={cid}/date=d/f{i}.parquet")
                t.commit_append([f], f"s-{cid}", i, {cid: 1}, {})
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [threading.Thread(target=worker, args=(c,)) for c in ("a", "b")]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs
    m = t.manifest()
    assert len(m["files"]) == 40
    assert m["high_water"] == {"a": 20, "b": 20}
    assert m["generation"] == 40


def test_import_existing_adopts_plain_tree(tmp_path):
    t = ManifestTable(str(tmp_path / "t"))
    f1 = _touch(t, "container_id=c1/date=d/a.parquet")
    m = t.import_existing()
    assert m["files"] == [f1]
    # second call is a no-op even though more files appeared out-of-band
    _touch(t, "container_id=c1/date=d/b.parquet")
    assert t.import_existing()["files"] == [f1]


def test_gc_respects_keep_generations(tmp_path):
    t = ManifestTable(str(tmp_path / "t"))
    f1 = _touch(t, "container_id=c/date=d/gen1.parquet")
    t.commit_append([f1], "s", None, {}, {})
    f2 = _touch(t, "container_id=c/date=d/gen2.parquet")
    t.commit_replace([f1], [f2])
    # keep 2 generations: f1 still referenced by gen 1 → spared
    t.gc(keep_generations=2, grace_s=0)
    assert (t.dir / f1).exists()
    # keep 1: f1 unreferenced → deleted; f2 live → kept
    t.gc(keep_generations=1, grace_s=0)
    assert not (t.dir / f1).exists()
    assert (t.dir / f2).exists()


def test_crash_between_write_and_commit_does_not_duplicate(spark, tmp_path):
    """End-to-end exactly-once: simulate the crash window the round-1
    design had (data appended, state not saved) by replaying the same
    ingest batch — the manifest makes the second attempt a no-op."""
    wh = tmp_path / "wh"
    spool, logs, state = str(wh / "spool"), str(wh / "logs"), str(wh / "state")
    w = SpoolWriter(spool, "c1")
    w.write_burst([LogEntry(source="stdout", time_nano=BASE_TS + i * 10**9,
                            line=f"l{i}".encode()) for i in range(5)])
    res = ingest_spool_once(spark, spool, logs, state, consume=False)
    assert res["rows"] == 5
    # replay the SAME spool files (consume=False left them in place) —
    # the per-container file watermark filters every row out
    res2 = ingest_spool_once(spark, spool, logs, state, consume=True)
    assert res2.get("rows", 0) == 0
    t = ManifestTable(logs)
    df = t.read_df(spark)
    assert df.count() == 5
    assert sorted(r["seq"] for r in df.select("seq").collect()) == [1, 2, 3, 4, 5]


def test_lock_contention_times_out_not_corrupts(tmp_path):
    t = ManifestTable(str(tmp_path / "t"))
    f1 = _touch(t, "container_id=c/date=d/a.parquet")
    t.commit_append([f1], "s", None, {}, {})
    t.dir.mkdir(exist_ok=True)
    import fcntl
    import os as _os

    fd = _os.open(t.lock_path, _os.O_CREAT | _os.O_WRONLY)
    fcntl.flock(fd, fcntl.LOCK_EX)  # someone else holds the lock
    try:
        with pytest.raises(TimeoutError):
            t._acquire_lock(timeout_s=0.3)
    finally:
        _os.close(fd)
    # manifest unharmed
    assert t.manifest()["files"] == [f1]


# ---------------------------------------------------------------------------
# Round 12: chunked manifests — the commit's write cost is
# O(batch + #chunks), never the table's full file list.


def _chunk_files(t: ManifestTable) -> dict[str, bytes]:
    d = t.manifests / "chunks"
    if not d.exists():
        return {}
    return {p.name: p.read_bytes() for p in d.glob("*.json")}


def test_append_writes_one_chunk_and_never_rewrites_old(tmp_path):
    t = ManifestTable(str(tmp_path / "t"))
    files = []
    snapshots = []
    for i in range(5):
        f = _touch(t, f"container_id=c/date=2024-01-0{i + 1}/a{i}.parquet")
        files.append(f)
        t.commit_append([f], "s", i, {"c": 1}, {})
        snapshots.append(_chunk_files(t))
    # one new chunk per append commit; every previously-written chunk
    # file is byte-identical afterwards (immutability = the scale
    # property: a commit never re-serializes the table's file list)
    for prev, cur in zip(snapshots, snapshots[1:]):
        assert len(cur) == len(prev) + 1
        for name, blob in prev.items():
            assert cur[name] == blob
    m = t.manifest()
    assert m["files"] == files  # order preserved across chunks
    head = json.loads((t.manifests / f"{m['generation']:08d}.json")
                      .read_text())
    assert "files" not in head and len(head["file_chunks"]) == 5
    assert head["n_files"] == 5


def test_replace_rewrites_only_touched_chunks(tmp_path):
    t = ManifestTable(str(tmp_path / "t"))
    a = _touch(t, "container_id=c/date=2024-01-01/a.parquet")
    b = _touch(t, "container_id=c/date=2024-01-02/b.parquet")
    t.commit_append([a], "s", 0, {"c": 1}, {})
    t.commit_append([b], "s", 1, {"c": 1}, {})
    before = _chunk_files(t)
    c = _touch(t, "container_id=c/date=2024-01-03/c.parquet")
    t.commit_replace([b], [c])  # drop b's chunk member, add c
    after = _chunk_files(t)
    # a's chunk survives untouched; b's chunk is no longer referenced
    # (it still exists on disk for the older generation until gc)
    head = json.loads(
        (t.manifests / f"{t.manifest()['generation']:08d}.json")
        .read_text())
    surviving = [n for n in head["file_chunks"] if n in before]
    assert len(surviving) == 1
    assert after[surviving[0]] == before[surviving[0]]
    assert sorted(t.manifest()["files"]) == sorted([a, c])


def test_chunk_compaction_bounds_head_size(tmp_path):
    from logsqlite_spark import table as T

    t = ManifestTable(str(tmp_path / "t"))
    n = T._CHUNK_COMPACT_AT + 3
    files = []
    for i in range(n):
        f = _touch(t, f"container_id=c/date=2024-01-01/f{i:03d}.parquet")
        files.append(f)
        t.commit_append([f], "s", i, {"c": 1}, {})
    head = json.loads(
        (t.manifests / f"{t.manifest()['generation']:08d}.json")
        .read_text())
    # the squash fired at the threshold: far fewer chunks than commits
    assert len(head["file_chunks"]) < T._CHUNK_COMPACT_AT
    assert t.manifest()["files"] == files


def test_legacy_inline_manifest_upgrades_on_commit(tmp_path):
    t = ManifestTable(str(tmp_path / "t"))
    a = _touch(t, "container_id=c/date=2024-01-01/a.parquet")
    # hand-write a pre-round-12 head with the inline file list
    t.manifests.mkdir(parents=True, exist_ok=True)
    (t.manifests / "00000001.json").write_text(json.dumps(
        {"generation": 1, "files": [a], "batch_ids": {},
         "high_water": {"c": 1}, "last_file": {}}))
    t.current_ptr.write_text("1")
    assert t.manifest()["files"] == [a]  # legacy read path
    b = _touch(t, "container_id=c/date=2024-01-02/b.parquet")
    t.commit_append([b], "s", 0, {"c": 1}, {})
    m = t.manifest()
    assert m["files"] == [a, b]
    head = json.loads((t.manifests / f"{m['generation']:08d}.json")
                      .read_text())
    assert "files" not in head and len(head["file_chunks"]) == 2


def test_gc_deletes_unreferenced_chunks(tmp_path):
    t = ManifestTable(str(tmp_path / "t"))
    a = _touch(t, "container_id=c/date=2024-01-01/a.parquet")
    b = _touch(t, "container_id=c/date=2024-01-02/b.parquet")
    t.commit_append([a], "s", 0, {"c": 1}, {})
    t.commit_append([b], "s", 1, {"c": 1}, {})
    t.commit_replace([a], [])   # a's chunk now referenced only by old gens
    for i in range(3):          # age the old generations out
        t.update_state(last_file={"c": f"w{i}"})
    res = t.gc(keep_generations=2, grace_s=0)
    assert res["deleted_files"] == 1  # a.parquet physically gone
    live = _chunk_files(t)
    head = json.loads(
        (t.manifests / f"{t.manifest()['generation']:08d}.json")
        .read_text())
    assert set(live) == set(head["file_chunks"])  # no orphan chunks
    assert t.manifest()["files"] == [b]


def test_pure_append_commit_reads_no_chunk_bodies(tmp_path, monkeypatch):
    """Round-13 (VERDICT #3): commit cost is O(batch) in MEMORY, not
    just bytes — a pure append (and a state-only commit) never loads
    a chunk body; the head alone carries what it needs."""
    import logsqlite_spark.table as T

    t = ManifestTable(str(tmp_path / "t"))
    for i in range(5):
        f = _touch(t, f"container_id=c/date=d/f{i}.parquet")
        t.commit_append([f], "s", i, {"c": 1}, {})

    def boom(self, name):  # noqa: ANN001
        raise AssertionError(f"chunk body {name} read on a pure append")

    monkeypatch.setattr(T.ManifestTable, "_load_chunk", boom)
    f = _touch(t, "container_id=c/date=d/f99.parquet")
    assert t.commit_append([f], "s", 99, {"c": 1}, {}) is not None
    t.update_state(last_file={"c": "w9"})
    monkeypatch.undo()
    m = t.manifest()
    assert len(m["files"]) == 6 and m["last_file"] == {"c": "w9"}
    assert m["high_water"] == {"c": 6}


def test_replace_loads_only_intersecting_chunks(tmp_path, monkeypatch):
    """Round-13: commit_replace prunes on the head's per-chunk dir
    summary — a chunk whose partition dirs are disjoint from the
    removed files' dirs passes through BY NAME, body never loaded."""
    import json as _json

    import logsqlite_spark.table as T

    t = ManifestTable(str(tmp_path / "t"))
    a = _touch(t, "container_id=c1/date=d1/a.parquet")
    t.commit_append([a], "s", 0, {"c1": 1}, {})
    b = _touch(t, "container_id=c2/date=d2/b.parquet")
    t.commit_append([b], "s", 1, {"c2": 1}, {})
    head = _json.loads(
        (t.manifests / "00000002.json").read_text())
    ca, cb = head["file_chunks"]

    loaded: list = []
    orig = T.ManifestTable._load_chunk
    monkeypatch.setattr(
        T.ManifestTable, "_load_chunk",
        lambda self, name: (loaded.append(name), orig(self, name))[1])
    c = _touch(t, "container_id=c2/date=d2/c.parquet")
    t.commit_replace([b], [c])
    monkeypatch.undo()
    assert loaded == [cb], (loaded, ca, cb)
    m = t.manifest()
    assert sorted(m["files"]) == sorted([a, c])
    # same pruning for drop_container
    loaded.clear()
    monkeypatch.setattr(
        T.ManifestTable, "_load_chunk",
        lambda self, name: (loaded.append(name), orig(self, name))[1])
    n = t.drop_container("c2")
    monkeypatch.undo()
    assert n == 1 and ca not in loaded
    assert t.manifest()["files"] == [a]
    assert t.manifest()["high_water"] == {"c1": 1}


def test_reordering_commit_persists_change_fn_order(tmp_path):
    """Round-13 ADVICE(low): when change_fn REORDERS the file list
    (not just drop/append), the persisted chunk order must match what
    the committing caller observed, so a later manifest() returns the
    same order."""
    t = ManifestTable(str(tmp_path / "t"))
    fs = [_touch(t, f"container_id=c/date=d/f{i}.parquet")
          for i in range(4)]
    t.commit_append(fs, "s", 0, {"c": 4}, {})

    def reorder(m: dict) -> dict:
        m["files"] = list(reversed(m["files"]))
        return m

    got = t.commit(reorder)["files"]
    assert got == list(reversed(fs))
    assert t.manifest()["files"] == got


def test_squash_target_scales_so_appends_stay_o_batch(tmp_path,
                                                      monkeypatch):
    """Round-13 fix: with a FIXED squash target, a table larger than
    target × threshold files re-squashes on EVERY commit (appends
    silently become O(table)).  The target scales with the table so a
    squash always lands at ~half the threshold, and the very next
    append is pure O(batch) again (no chunk bodies read)."""
    import logsqlite_spark.table as T

    monkeypatch.setattr(T, "_CHUNK_TARGET", 100)
    monkeypatch.setattr(T, "_CHUNK_COMPACT_AT", 8)
    t = ManifestTable(str(tmp_path / "t"))
    # 20 × 100-file appends → 2000 files, repeatedly crossing the
    # 8-chunk threshold; a fixed 100-file target would keep 20 chunks
    for i in range(20):
        fs = [f"container_id=c/date=d/f{i:03d}-{j}.parquet"
              for j in range(100)]
        t.commit_append(fs, "s", i, {"c": 100}, {})
    head = t.head()
    assert head["n_files"] == 2000
    assert len(head["file_chunks"]) <= T._CHUNK_COMPACT_AT, head["file_chunks"]
    # the next append must not touch any chunk body
    def boom(self, name):  # noqa: ANN001
        raise AssertionError("chunk body read on post-squash append")
    monkeypatch.setattr(T.ManifestTable, "_load_chunk", boom)
    f = _touch(t, "container_id=c/date=d/after.parquet")
    assert t.commit_append([f], "s", 99, {"c": 1}, {}) is not None
    monkeypatch.undo()
    assert len(t.manifest()["files"]) == 2001


def test_commit_lock_released_when_holder_is_killed(tmp_path):
    """Crash recovery must be IMMEDIATE: a committer SIGKILLed while
    holding the commit lock must not block the next committer (the
    old O_EXCL lockfile orphaned on kill and stalled every commit for
    a 300 s staleness window — flock is kernel-released on death)."""
    import os
    import signal
    import subprocess
    import sys
    import time as _t

    import logsqlite_spark
    from logsqlite_spark.table import ManifestTable

    _REPO_ROOT = os.path.dirname(os.path.dirname(logsqlite_spark.__file__))
    table_dir = tmp_path / "logs"
    table_dir.mkdir()
    holder = subprocess.Popen(
        [sys.executable, "-c", f"""
import sys, time
sys.path.insert(0, {str(_REPO_ROOT)!r})
from logsqlite_spark.table import ManifestTable
t = ManifestTable({str(table_dir)!r})
t._acquire_lock()
print("LOCKED", flush=True)
time.sleep(60)
"""],
        stdout=subprocess.PIPE, text=True)
    try:
        assert holder.stdout.readline().strip() == "LOCKED"
        t = ManifestTable(str(table_dir))
        # lock genuinely held right now
        with pytest.raises(TimeoutError):
            t._acquire_lock(timeout_s=0.3)
        holder.kill()
        holder.wait()
        start = _t.monotonic()
        t._acquire_lock(timeout_s=5.0)   # must succeed fast, not in 300 s
        t._release_lock()
        assert _t.monotonic() - start < 5.0
    finally:
        if holder.poll() is None:
            holder.send_signal(signal.SIGKILL)
            holder.wait()


def test_concurrent_committers_no_lost_updates(tmp_path):
    """VERDICT r13 #4: 12 concurrent append committers (one scope per
    'stream') interleaved with compaction-style commit_replace and
    retention-style removals against ONE table — no increment, file,
    or batch id may be lost, resurrected, or double-applied."""
    import random as _random

    t = ManifestTable(str(tmp_path / "t"))
    t.commit_append([], "boot", None, {}, {})

    N_APPENDERS, N_COMMITS = 12, 15
    applied_lock = threading.Lock()
    appended: set[str] = set()
    replaced_away: set[str] = set()
    replace_added: set[str] = set()
    errors: list[BaseException] = []

    def appender(i: int) -> None:
        rnd = _random.Random(i)
        try:
            for k in range(N_COMMITS):
                rel = _touch(t, f"container_id=a{i}/date=2024-01-01/"
                                f"f{i}_{k}.parquet")
                res = t.commit_append([rel], f"s{i}", k, {f"a{i}": 3},
                                      {f"a{i}": f"spool/{i}/{k:06d}"})
                assert res is not None, f"append {i}/{k} treated as replay"
                with applied_lock:
                    appended.add(rel)
                time.sleep(rnd.uniform(0, 0.003))
        except BaseException as e:  # noqa: BLE001
            errors.append(e)

    def maintainer(kind: str) -> None:
        """Compaction (merge 3 files -> 1) or retention (drop 1)."""
        rnd = _random.Random(kind)
        try:
            for _ in range(10):
                time.sleep(rnd.uniform(0.002, 0.01))
                with applied_lock:
                    live = sorted((appended | replace_added)
                                  - replaced_away)
                    take = 3 if kind == "compact" else 1
                    if len(live) < take:
                        continue
                    victims = rnd.sample(live, take)
                    new = []
                    if kind == "compact":
                        new = [_touch(
                            t, "container_id=zmerged/date=2024-01-01/"
                               f"m{rnd.randrange(10**9)}.parquet")]
                    # record the VICTIM claim under the same lock that
                    # selected them so two maintainers can't both claim
                    # one file (the TABLE allows it — idempotent drop —
                    # but the test's expected-set bookkeeping can't)
                    replaced_away.update(victims)
                t.commit_replace(victims, new)
                # the merged file becomes selectable only AFTER its
                # publishing commit returns — exposing it at claim
                # time let the peer maintainer pick a not-yet-live
                # file and hit a legitimate CommitConflict (a ms-wide
                # window; flaked twice in one day of full-suite runs)
                with applied_lock:
                    replace_added.update(new)
        except BaseException as e:  # noqa: BLE001
            errors.append(e)

    import time

    threads = ([threading.Thread(target=appender, args=(i,))
                for i in range(N_APPENDERS)]
               + [threading.Thread(target=maintainer, args=("compact",)),
                  threading.Thread(target=maintainer, args=("retain",))])
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=120)
        assert not th.is_alive(), "committer deadlocked"
    assert not errors, errors

    m = t.manifest()
    expected_live = (appended | replace_added) - replaced_away
    assert set(m["files"]) == expected_live
    # every scope's exactly-once cursor at its last batch
    assert m["batch_ids"] == {**{f"s{i}": N_COMMITS - 1
                                 for i in range(N_APPENDERS)}, "boot": -1} \
        or all(m["batch_ids"].get(f"s{i}") == N_COMMITS - 1
               for i in range(N_APPENDERS))
    # no lost seq increments: 15 commits x +3 each, per container
    for i in range(N_APPENDERS):
        assert m["high_water"][f"a{i}"] == N_COMMITS * 3
        # zero-padded names: the engine contract (lexicographic ==
        # numeric) the r16 monotonic-max watermark merge relies on
        assert m["last_file"][f"a{i}"] == f"spool/{i}/{N_COMMITS - 1:06d}"


def _process_committer(args):
    root, i, k_commits = args
    t = ManifestTable(root)
    rels = [f"container_id=w{i}/date=2024-01-01/f{k}.parquet"
            for k in range(k_commits)]
    for k, rel in enumerate(rels):
        assert t.commit_append([rel], f"sc{i}", k, {f"w{i}": 1}, {}) \
            is not None
    # a replay of the last batch (crash between commit and ack) must
    # dedupe inside the commit, also when it races the other processes
    return t.commit_append([rels[-1]], f"sc{i}", k_commits - 1,
                           {f"w{i}": 1}, {})


def test_concurrent_process_committers_lose_nothing(tmp_path):
    """Committer PROCESSES serialize on the cross-process flock: every
    batch commits exactly once, and no file, seq increment or batch id
    is lost (the thread tests above share one process's GIL)."""
    import multiprocessing as mp

    root = str(tmp_path / "t")
    n, k = 8, 6
    with mp.get_context("fork").Pool(n) as pool:
        replays = pool.map(_process_committer,
                           [(root, i, k) for i in range(n)])
    assert replays == [None] * n
    m = ManifestTable(root).manifest()
    assert m["generation"] == n * k
    assert sorted(m["files"]) == sorted(
        f"container_id=w{i}/date=2024-01-01/f{j}.parquet"
        for i in range(n) for j in range(k))
    assert m["high_water"] == {f"w{i}": k for i in range(n)}
    assert m["batch_ids"] == {f"sc{i}": k - 1 for i in range(n)}


def test_sharded_manifest_warehouse_is_refused(spark, tmp_path):
    """A warehouse stamped by the retired sharded manifest keeps its
    committed state under ``_shards/``; opening it as a single-manifest
    table would publish a root head that makes gc delete those files."""
    from logsqlite_spark.api import Engine
    from logsqlite_spark.config import EngineConfig

    wh = tmp_path / "wh"
    logs = wh / "logs"
    logs.mkdir(parents=True)
    (logs / "_shards.json").write_text(json.dumps({"n": 8}))
    with pytest.raises(ValueError, match="sharded"):
        ManifestTable(str(logs))
    with pytest.raises(ValueError, match="sharded"):
        Engine(spark, EngineConfig(warehouse_dir=str(wh)))
    assert sorted(p.name for p in logs.iterdir()) == ["_shards.json"]


def test_commit_replace_conflicts_when_input_concurrently_rewritten(tmp_path):
    """Round-14 soak finding (duplicate seqs within 8 kill cycles):
    compaction merged files A,B into M from its snapshot while
    retention concurrently rewrote A away (deleting old rows).
    Publishing M would RESURRECT the deleted rows and DUPLICATE the
    survivors — the commit must abort with CommitConflict (the
    Iceberg/Delta validate-referenced-files rule) and leave the
    manifest exactly as the winning rewrite published it."""
    from logsqlite_spark.table import CommitConflict

    t = ManifestTable(str(tmp_path / "t"))
    a = _touch(t, "container_id=c/date=d/a.parquet")
    b = _touch(t, "container_id=c/date=d/b.parquet")
    t.commit_append([a, b], "s", None, {}, {})
    snapshot = t.manifest()["files"]           # compaction's snapshot

    kept = _touch(t, "container_id=c/date=d/kept.parquet")
    t.commit_replace([a], [kept])              # retention wins the race

    merged = _touch(t, "container_id=c/date=d/merged.parquet")
    with pytest.raises(CommitConflict):
        t.commit_replace(snapshot, [merged])   # stale rewrite aborts
    assert sorted(t.manifest()["files"]) == sorted([b, kept])
    # the aborted commit's staged file is unreferenced -> gc reclaims
    t.gc(keep_generations=1, grace_s=0)
    assert not (t.dir / merged).exists()


def test_retention_and_compaction_skip_on_conflict(spark, tmp_path):
    """Operator-level halves of the same pin: apply_retention returns
    a conflict marker (cadence retries) and compact_container counts
    the partition as conflicted — neither raises, neither publishes."""
    from logsqlite_spark.config import LogConfig
    from logsqlite_spark.operators.compact import compact_container
    from logsqlite_spark.operators.retention import apply_retention

    wh = tmp_path / "wh"
    spool, logs, state = (str(wh / "spool"), str(wh / "logs"),
                          str(wh / "state"))
    w = SpoolWriter(spool, "c1")
    for i in range(5):
        w.write_burst([LogEntry(source="stdout",
                                time_nano=BASE_TS + (i * 3 + j) * 10**9,
                                line=f"l{i}-{j}".encode())
                       for j in range(3)])
        ingest_spool_once(spark, spool, logs, state)  # one file per pull
    t = ManifestTable(logs)
    before = sorted(t.manifest()["files"])
    assert len(before) == 5

    stolen: list[str] = []

    def steal_one_file() -> None:
        """A concurrent rewrite takes one live file (remove-only, so
        the next operator pass reads real parquet only)."""
        victim = t.manifest()["files"][0]
        stolen.append(victim)
        t.commit_replace([victim], [])

    orig = ManifestTable.commit_replace
    calls = {"n": 0}

    def racing_commit(self, removed, new_files):
        if calls["n"] == 0:
            calls["n"] += 1
            steal_one_file()  # lands between snapshot and commit
        return orig(self, removed, new_files)

    import logsqlite_spark.table as TBL
    try:
        TBL.ManifestTable.commit_replace = racing_commit
        res = apply_retention(spark, logs, "c1",
                              LogConfig(cleanup_max_lines=2))
        assert res.get("conflict") is True and res["deleted_rows"] == 0
    finally:
        TBL.ManifestTable.commit_replace = orig
    # nothing published by retention; only the race's own removal
    live_now = set(t.manifest()["files"])
    assert live_now == set(before) - set(stolen)

    calls["n"] = 0
    try:
        TBL.ManifestTable.commit_replace = racing_commit
        res = compact_container(spark, logs, "c1", min_files=2)
        assert res["conflicts"] == 1 and res["compacted_partitions"] == 0
    finally:
        TBL.ManifestTable.commit_replace = orig


def test_compaction_bounds_live_files_under_mux_churn(spark, tmp_path):
    """VERDICT r13 #8: sustained multiplexed pulls (one parquet per
    (container, date) per pull) against compact_all on the cleaner
    cadence — live files per partition must stay bounded, reads must
    never see a gap or duplicate mid-compaction, and gc must keep the
    physical tree bounded too."""
    from logsqlite_spark.operators.compact import compact_all

    wh = tmp_path / "wh"
    spool, logs, state = (str(wh / "spool"), str(wh / "logs"),
                          str(wh / "state"))
    CIDS = [f"m{i}" for i in range(8)]
    writers = {c: SpoolWriter(spool, c) for c in CIDS}
    total = {c: 0 for c in CIDS}
    MIN_FILES = 4

    t = None
    max_live_per_part = 0
    for pull in range(24):
        for c in CIDS:
            writers[c].write_burst(
                [LogEntry(source="stdout",
                          time_nano=BASE_TS + (total[c] + j) * 10**9,
                          line=f"{c}-{total[c] + j}".encode())
                 for j in range(2)])
            total[c] += 2
        ingest_spool_once(spark, spool, logs, state)
        t = ManifestTable(logs)
        if pull % 4 == 3:  # cleaner cadence (compressed time)
            res = compact_all(spark, logs, min_files=MIN_FILES)
            t.gc(keep_generations=2, grace_s=0)
            assert res.get("conflicts", 0) == 0
        # mid-churn read: every container contiguous, content intact
        df = t.read_df(spark, t.manifest())
        got = {c: sorted(r["seq"] for r in
                         df.filter(df.container_id == c)
                         .select("seq").collect())
               for c in CIDS}
        for c in CIDS:
            assert got[c] == list(range(1, total[c] + 1)), \
                f"{c} gap/dup at pull {pull}"
        per_part: dict[str, int] = {}
        for f in t.manifest()["files"]:
            k = f.rsplit("/", 1)[0]
            per_part[k] = per_part.get(k, 0) + 1
        max_live_per_part = max(max_live_per_part,
                                max(per_part.values()))
    # bound: at most one un-compacted cadence window of files on top
    # of the compacted one
    assert max_live_per_part <= MIN_FILES + 1, max_live_per_part
    # physical tree bounded by gc (retired rewrites reclaimed)
    import glob as _glob
    on_disk = len(_glob.glob(f"{logs}/container_id=*/date=*/*.parquet"))
    live = len(t.manifest()["files"])
    assert on_disk <= live + 2 * len(CIDS), (on_disk, live)


def test_gc_grace_spares_inflight_adoptions(tmp_path):
    """Round-14 audit: a concurrent commit's files are adopted (moved
    into the live tree) BEFORE the manifest publishes — briefly
    unreferenced with a fresh mtime. The cleaner's gc must spare them
    (default grace) or it deletes files the about-to-publish manifest
    references; grace_s=0 remains the explicit offline-maintenance
    contract."""
    t = ManifestTable(str(tmp_path / "t"))
    base = _touch(t, "container_id=c/date=d/base.parquet")
    t.commit_append([base], "s", None, {}, {})

    # an in-flight commit: adopted, manifest not yet published
    staging = t.new_staging_dir()
    p = staging / "container_id=c" / "date=d" / "inflight.parquet"
    p.parent.mkdir(parents=True)
    p.write_bytes(b"x")
    adopted = t.adopt_staged(staging)

    t.gc(keep_generations=2)             # cleaner-cadence call: safe default
    assert (t.dir / adopted[0]).exists(), \
        "gc deleted an in-flight adoption out from under a commit"
    # ...the commit then publishes and the file is referenced
    t.commit_append(adopted, "s2", None, {"c": 1}, {})
    assert (t.dir / adopted[0]).exists()

    # explicit zero grace is the offline immediate-reclaim contract
    orphan_staging = t.new_staging_dir()
    q = orphan_staging / "container_id=c" / "date=d" / "orphan.parquet"
    q.parent.mkdir(parents=True)
    q.write_bytes(b"x")
    orphan = t.adopt_staged(orphan_staging)
    t.gc(keep_generations=1, grace_s=0)
    assert not (t.dir / orphan[0]).exists()
    assert (t.dir / adopted[0]).exists()  # referenced: kept either way


def test_gc_tolerates_concurrent_peer_gc(tmp_path):
    """Round-15 duo-soak finding (6 kill cycles): two engine PROCESSES
    run gc on one warehouse with no shared lock, so manifests/chunks/
    data files this pass globbed can vanish before they are read or
    unlinked (the peer collected them first).  A vanished EXPIRED
    generation is skipped (it was collectible under the peer's
    same-or-newer keep window); a vanished generation at or above the
    pass's pinned head aborts conservatively (referenced set can no
    longer be trusted, nothing is deleted)."""
    import os
    import time as _time

    t = ManifestTable(str(tmp_path / "t"))
    for i in range(5):
        f = _touch(t, f"container_id=c/date=d/f{i}.parquet")
        t.commit_append([f], "s", None, {}, {})
    # age everything past the grace window
    old = _time.time() - 3600
    for p in t.dir.rglob("*"):
        os.utime(p, (old, old))

    # peer deleted a kept-window (but non-head) generation mid-pass
    (t.manifests / "00000004.json").unlink()
    res = t.gc(keep_generations=2, grace_s=60)
    assert "aborted_stale_head" not in res
    # the head's references survive (f0..f4 all live in gen 5)
    live = set(t.manifest()["files"])
    for i in range(5):
        assert f"container_id=c/date=d/f{i}.parquet" in live
        assert (t.dir / f"container_id=c/date=d/f{i}.parquet").exists()

    # peer (plus racing commits) expired the PINNED head itself ->
    # conservative abort, nothing deleted
    gen = int(t.current_ptr.read_text().strip())
    head_mf = t.manifests / f"{gen:08d}.json"
    blob = head_mf.read_bytes()
    head_mf.unlink()
    res = t.gc(keep_generations=2, grace_s=60)
    assert res.get("aborted_stale_head") is True
    assert res["deleted_files"] == 0
    head_mf.write_bytes(blob)  # restore; table reads fine again
    assert set(t.manifest()["files"]) == live
