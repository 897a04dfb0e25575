"""Round-16 ADVICE regression pins.

1. (medium) append_to_ivf_index never ran the staged-swap adoption:
   after a compact/erase crash between cluster-dir delete and rename,
   a restarted APPEND stream recreated lists/__cluster=K via
   partitionBy append, so the next compact's adopt pass saw the dir
   "exists" and deleted the staged dir holding the only copy of the
   old cluster vectors — silent loss.  Adoption now lives inside
   _heal_refit, which every lifecycle entry (append included) calls
   first.
2. (low) on a non-local filesystem the drift refit deleted the
   completion marker WITHOUT staging .refit_meta.json (the meta write
   was os.path-gated on _local_fs_path), so a crash mid-rebuild left
   _heal_refit returning False forever.  The meta now rides the
   Hadoop FS API like the marker, scheme-agnostic.
3. (low) the multi-chunk aggregate of ingest_spool_once hardcoded
   batch_id: None and dropped single-chunk keys (skipped_replay,
   ...), so the result shape silently differed once the backlog
   exceeded max_files_per_pull.
"""

import shutil

from pyspark.sql import functions as F

from logsqlite_spark.sources.frames import LogEntry
from logsqlite_spark.sources.spool import SpoolWriter
from logsqlite_spark.streaming.ingest import ingest_spool_once

BASE_TS = 1_704_067_200_000_000_000  # 2024-01-01T00:00:00Z


def _entries(start_ts, n, source="stdout"):
    return [LogEntry(source=source, time_nano=start_ts + i * 10**9,
                     line=f"line-{start_ts + i}".encode())
            for i in range(n)]


# --- 1: the APPEND path adopts crashed staged cluster swaps ----------

def test_append_adopts_crashed_staged_swap(spark, tmp_path):
    from logsqlite_spark.operators.similarity import (
        append_to_ivf_index,
        build_ivf_index,
        compact_ivf_lists,
    )
    from logsqlite_spark.tables import table as t

    emb = t(spark, "/root/testdata/sf0.001", "embeddings")
    base = emb.filter(F.col("vec_id") % 7 != 0)
    batch = emb.filter(F.col("vec_id") % 7 == 0) \
        .withColumn("vec_id", F.col("vec_id") + 10**6)
    path = str(tmp_path / "idx")
    build_ivf_index(base, path, n_clusters=4)
    base_ids = {r["vec_id"] for r in base.select("vec_id").collect()}
    batch_ids = {r["vec_id"] for r in batch.select("vec_id").collect()}

    # kill window: staged copy exists, cluster dir gone (rename never ran)
    lists_dir = tmp_path / "idx" / "lists"
    victim = sorted(p for p in lists_dir.iterdir()
                    if p.name.startswith("__cluster="))[0]
    staged = tmp_path / "idx" / f".compact_tmp_{victim.name}"
    shutil.move(str(victim), str(staged))
    assert not victim.exists()

    # the pre-fix append recreated the victim dir via partitionBy
    # append, turning the staged copy into a discarded "duplicate";
    # now the append's _heal_refit adopts it BEFORE any write
    out = append_to_ivf_index(batch, path, drift_threshold=10**9)
    assert out["mode"] == "append"
    assert not staged.exists()
    got = {r["nid"] for r in
           spark.read.option("basePath", f"{path}/lists")
           .parquet(f"{path}/lists").select("nid").collect()}
    assert got == base_ids | batch_ids  # nothing lost

    # and a follow-up compact sees a whole index (no stale staging)
    compact_ivf_lists(spark, path, min_files=10**6)
    got = {r["nid"] for r in
           spark.read.option("basePath", f"{path}/lists")
           .parquet(f"{path}/lists").select("nid").collect()}
    assert got == base_ids | batch_ids


def test_append_drift_refit_sees_adopted_cluster(spark, tmp_path):
    """The drift-refit union reads the lists — a crashed swap healed
    at entry means the rebuilt index keeps the victim cluster's
    vectors."""
    from logsqlite_spark.operators.similarity import (
        append_to_ivf_index,
        build_ivf_index,
    )
    from logsqlite_spark.tables import table as t

    emb = t(spark, "/root/testdata/sf0.001", "embeddings")
    base = emb.filter(F.col("vec_id") % 7 != 0)
    batch = emb.filter(F.col("vec_id") % 7 == 0) \
        .withColumn("vec_id", F.col("vec_id") + 10**6)
    path = str(tmp_path / "idx")
    build_ivf_index(base, path, n_clusters=4)
    base_ids = {r["vec_id"] for r in base.select("vec_id").collect()}
    batch_ids = {r["vec_id"] for r in batch.select("vec_id").collect()}

    lists_dir = tmp_path / "idx" / "lists"
    victim = sorted(p for p in lists_dir.iterdir()
                    if p.name.startswith("__cluster="))[0]
    staged = tmp_path / "idx" / f".erase_tmp_{victim.name}"
    shutil.move(str(victim), str(staged))

    out = append_to_ivf_index(batch, path, drift_threshold=1e-9)
    assert out["mode"] == "refit"
    got = {r["nid"] for r in
           spark.read.option("basePath", f"{path}/lists")
           .parquet(f"{path}/lists").select("nid").collect()}
    assert got == base_ids | batch_ids  # victim cluster survived the refit


# --- 2: refit meta/heal are scheme-agnostic (Hadoop FS, not os.path) -

def test_fs_text_roundtrip_with_scheme(spark, tmp_path):
    from logsqlite_spark.operators.similarity import (
        _fs_read_text,
        _fs_write_text,
    )

    p = f"file:{tmp_path}/sub/meta.json"
    _fs_write_text(spark, p, '{"k": 1}')
    assert _fs_read_text(spark, p) == '{"k": 1}'
    _fs_write_text(spark, p, '{"k": 2}')  # overwrite via staged rename
    assert _fs_read_text(spark, p) == '{"k": 2}'
    assert not (tmp_path / "sub" / "meta.json.tmp").exists()


def test_refit_crash_heals_when_path_not_local(spark, tmp_path, monkeypatch):
    """Simulate a non-local store by forcing _local_fs_path -> None
    (all engine I/O then rides the Hadoop FS API, here backed by the
    local scheme).  Pre-fix: the refit meta was never staged, so the
    crash state below was undecidable and the index permanently
    raised 'no completed IVF index'."""
    import logsqlite_spark.operators.similarity as sim
    from logsqlite_spark.tables import table as t

    emb = t(spark, "/root/testdata/sf0.001", "embeddings")
    base = emb.filter(F.col("vec_id") % 7 != 0)
    batch = emb.filter(F.col("vec_id") % 7 == 0) \
        .withColumn("vec_id", F.col("vec_id") + 10**6)
    path = str(tmp_path / "idx")
    sim.build_ivf_index(base, path, n_clusters=4)
    base_ids = {r["vec_id"] for r in base.select("vec_id").collect()}
    batch_ids = {r["vec_id"] for r in batch.select("vec_id").collect()}

    monkeypatch.setattr(sim, "_local_fs_path", lambda _p: None)

    # drift refit end-to-end on the "non-local" store: the meta must
    # be staged (pre-fix it wasn't) and cleaned up after success
    out = sim.append_to_ivf_index(batch, path, drift_threshold=1e-9)
    assert out["mode"] == "refit"
    assert not (tmp_path / "idx" / ".refit_meta.json").exists()
    assert not (tmp_path / "idx" / ".refit_src").exists()
    got = {r["nid"] for r in
           spark.read.option("basePath", f"{path}/lists")
           .parquet(f"{path}/lists").select("nid").collect()}
    assert got == base_ids | batch_ids

    # crash mid-rebuild (staged union + meta present, marker off,
    # lists mangled) must heal at the next entry — still "non-local"
    import json

    lists_dir = tmp_path / "idx" / "lists"
    union = spark.read.option("basePath", str(lists_dir)) \
        .parquet(str(lists_dir)).select("nid", "nv")
    union.write.mode("overwrite").parquet(str(tmp_path / "idx" / ".refit_src"))
    sim._fs_write_text(spark, f"{path}/.refit_meta.json",
                       json.dumps({"n_clusters": 4, "sq_dim": 64}))
    (tmp_path / "idx" / "_INDEX_OK").unlink()
    shutil.rmtree(sorted(p for p in lists_dir.iterdir()
                         if p.name.startswith("__cluster="))[0])

    sim.compact_ivf_lists(spark, path, min_files=10**6)
    assert (tmp_path / "idx" / "_INDEX_OK").exists()
    got = {r["nid"] for r in
           spark.read.option("basePath", f"{path}/lists")
           .parquet(f"{path}/lists").select("nid").collect()}
    assert got == base_ids | batch_ids


# --- 3: the chunked pull result is a superset of the single-chunk ----

def test_chunked_pull_result_shape_matches_single_chunk(spark, tmp_path):
    spool, logs, state = (str(tmp_path / "spool"), str(tmp_path / "logs"),
                          str(tmp_path / "state"))
    w = SpoolWriter(spool, "c1")
    for i in range(5):
        w.write_burst(_entries(BASE_TS + i * 10**10, 3))

    single = ingest_spool_once(spark, spool, logs, state,
                               max_files_per_pull=4096)
    assert single["rows"] == 15 and "chunks" not in single

    w2 = SpoolWriter(spool, "c2")
    for i in range(5):
        w2.write_burst(_entries(BASE_TS + i * 10**10, 3))
    chunked = ingest_spool_once(spark, spool, logs, state,
                                max_files_per_pull=2)
    assert chunked["chunks"] == 3
    # shape superset: every single-chunk key survives chunking
    assert set(single) <= set(chunked)
    assert chunked["rows"] == 15 and chunked["decode_errors"] == 0
    assert chunked["batch_id"] == single["batch_id"]  # not hardcoded None
    assert chunked["high_water"].get("c2", {}) or chunked["high_water"]
    # both containers fully ingested, seqs contiguous
    got = (spark.read.parquet(logs).groupBy("container_id")
           .agg(F.count("*").alias("n"), F.max("seq").alias("mx"))
           .collect())
    by_cid = {r["container_id"]: (r["n"], r["mx"]) for r in got}
    assert by_cid["c1"] == (15, 15) and by_cid["c2"] == (15, 15)
