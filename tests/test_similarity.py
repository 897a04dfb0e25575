"""Similarity search (X3): exact top-k + LSH recall sanity."""

import math

import pytest
from pyspark.sql import functions as F

from logsqlite_spark.operators.similarity import ann_lsh_topk, cosine_topk

@pytest.fixture()
def emb(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),   # closest to 0
        (2, [0.0, 1.0, 0.0, 0.0]),   # orthogonal to 0
        (3, [0.5, 0.5, 0.0, 0.0]),
        (4, [-1.0, 0.0, 0.0, 0.0]),  # opposite of 0
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")

def test_cosine_topk_exact_ranking(emb):
    q = emb.filter(F.col("vec_id") == 0)
    out = cosine_topk(q, emb, k=4)
    ranked = [r["nid"] for r in sorted(out.collect(), key=lambda r: r["rank"])]
    assert ranked == [1, 3, 2, 4]
    sims = {r["nid"]: r["sim"] for r in out.collect()}
    assert abs(sims[1] - 0.9 / math.hypot(0.9, 0.1)) < 1e-4
    assert sims[2] == 0.0
    assert sims[4] == -1.0

def test_cosine_topk_excludes_self(emb):
    out = cosine_topk(emb.filter(F.col("vec_id") == 0), emb, k=10)
    assert 0 not in {r["nid"] for r in out.collect()}

def test_embedding_dedup_pairs_finds_planted(spark):
    from logsqlite_spark.operators.similarity import embedding_dedup_pairs

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.999, 0.01, 0.0, 0.0]),  # near-dup of 0
        (2, [0.0, 1.0, 0.0, 0.0]),     # orthogonal
        (3, [1.0, 0.001, 0.0, 0.0]),   # near-dup of 0 and 1
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    expected = {(0, 1), (0, 3), (1, 3)}
    # every candidate-generation method must surface the planted dups;
    # exact is the oracle path, lsh_portable the default, lsh the
    # corpus chain's n-sized banding
    for method in ("exact", "lsh_portable", "lsh"):
        pairs = {(r["a_id"], r["b_id"]) for r in
                 embedding_dedup_pairs(emb, threshold=0.95,
                                       method=method).collect()}
        assert pairs == expected, method


def _near_dup_corpus(spark, n, seed, dim=64, vocab=2000):
    """Seeded corpus with planted near copies: random unit embeddings;
    a copy is its source's vector plus 0.02 noise per dimension
    (cosine about 0.987) and its Zipf token text with about 5 % of the
    tokens replaced."""
    import numpy as np

    rng = np.random.default_rng(seed)
    n_src = n * 7 // 8
    vec = rng.standard_normal((n_src, dim))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    p = 1.0 / np.arange(1, vocab + 1) ** 1.05
    p /= p.sum()
    toks = [rng.choice(vocab, size=int(rng.integers(20, 80)), p=p)
            for _ in range(n_src)]
    vecs = list(vec)
    for _ in range(n - n_src):
        src = int(rng.integers(n_src))
        t = toks[src].copy()
        k = max(1, len(t) // 20)
        t[rng.choice(len(t), size=k, replace=False)] = \
            rng.choice(vocab, size=k, p=p)
        toks.append(t)
        vecs.append(vec[src] + rng.standard_normal(dim) * 0.02)
    docs = spark.createDataFrame(
        [(i, " ".join(f"w{x}" for x in t)) for i, t in enumerate(toks)],
        "doc_id long, text string")
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>")
    return docs, emb, n - n_src


def test_two_stage_lsh_confirms_exactly_the_exact_pairs(spark):
    from logsqlite_spark.operators.dedup import two_stage_dedup

    docs, emb, n_copies = _near_dup_corpus(spark, 800, seed=11)

    def confirmed(method):
        return {(r.a_id, r.b_id) for r in
                two_stage_dedup(docs, emb, method=method).collect()}

    exact = confirmed("exact")
    assert len(exact) >= n_copies  # every copy confirms with its source
    assert confirmed("lsh") == exact


def test_lsh_candidates_grow_linearly_not_all_pairs(spark):
    from logsqlite_spark.operators.similarity import embedding_dedup_pairs

    n = 2000
    _, emb, _ = _near_dup_corpus(spark, n, seed=12)
    # threshold -1 keeps every candidate the banding emits
    cand = embedding_dedup_pairs(emb, threshold=-1.0, method="lsh").count()
    assert cand < 0.01 * n * (n - 1) / 2


def test_lsh_topk_high_recall_on_tiny_set(spark, emb):
    q = emb.filter(F.col("vec_id") == 0)
    out = ann_lsh_topk(spark, q, emb, k=2)
    got = [r["nid"] for r in sorted(out.collect(), key=lambda r: r["rank"])]
    # with 4 hash tables on 5 vectors the nearest neighbor must surface
    assert got[0] == 1


def test_ann_lsh_portable_near_dup_recall_and_determinism(emb):
    from logsqlite_spark.operators.similarity import ann_lsh_portable_topk

    q = emb.filter(F.col("vec_id") == 0)
    got = ann_lsh_portable_topk(q, emb, k=2, dim=4).collect()
    # vec 1 is nearly parallel to vec 0: identical sign bits on almost
    # every plane, so it must surface, and rerank is exact -> rank 1
    ranked = [r.nid for r in sorted(got, key=lambda r: r.rank)]
    assert ranked and ranked[0] == 1
    # deterministic: no RNG state anywhere
    again = {(r.qid, r.nid, r.rank)
             for r in ann_lsh_portable_topk(q, emb, k=2, dim=4).collect()}
    assert again == {(r.qid, r.nid, r.rank) for r in got}


def test_ann_lsh_portable_identical_vectors_always_meet(spark):
    from logsqlite_spark.operators.similarity import ann_lsh_portable_topk

    base = [float(i % 7) - 3.0 for i in range(64)]
    rows = [(0, base), (1, base), (2, [-x for x in base])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = ann_lsh_portable_topk(df.filter("vec_id = 0"), df, k=2).collect()
    pairs = {(r.qid, r.nid): r.sim for r in out}
    # identical vector -> same chunks in every band -> guaranteed hit
    assert pairs[(0, 1)] == 1.0


def test_dir_build_lock_mutual_exclusion_and_crash_release(tmp_path):
    """flock semantics: a held lock blocks a second acquirer (timeout),
    releases on exit, and a crashed holder's lock is auto-released by
    the kernel (no staleness heuristic to race on)."""
    import os

    import pytest as _pytest

    from logsqlite_spark.operators.similarity import _DirBuildLock

    d = str(tmp_path / "idx")
    with _DirBuildLock(d, timeout_s=5.0):
        with _pytest.raises(TimeoutError):
            _DirBuildLock(d, timeout_s=0.6).__enter__()
    # released on exit: immediate re-acquire succeeds
    with _DirBuildLock(d, timeout_s=1.0):
        pass

    # crash release: child takes the lock and dies without cleanup;
    # the kernel drops it with the fd, so the parent acquires at once
    pid = os.fork()
    if pid == 0:  # child
        _DirBuildLock(d, timeout_s=5.0).__enter__()
        os._exit(0)  # no __exit__, no unlock — simulated crash
    os.waitpid(pid, 0)
    with _DirBuildLock(d, timeout_s=2.0):
        pass


def test_ivf_recall_at_k_vs_exact(spark):
    """Quantitative IVF quality gate (VERDICT r5 #5): recall@k against
    the brute-force cosine ground truth at sf0.01 — the LSH path has
    one (above); the IVF path gets the same bar.

    The synthetic embeddings are ISOTROPIC (random directions, no
    cluster structure) — IVF's worst case: recall per query tracks the
    MASS of the probed lists, so recall alone says nothing unless the
    scanned fraction is pinned with it.  Round-13 recalibration: the
    old ml-KMeans geometry's 0.70@4/16 gate was passed partly by
    SKEW — measured ml cluster masses at sf0.01 were
    [67,61,...,15,1,1,1]/500 (three singletons) with MEAN PROBED MASS
    0.34 at "4/16" probes, i.e. recall 0.77 for 34% of the corpus
    scanned.  The deterministic integral seed+Lloyd geometry keeps
    lists balanced, so the same config scans ~25% — less work, and
    the recall-per-scanned-byte lift (recall / probed mass ≈ 2.3-2.4)
    is the same for both geometries.  The gate therefore pins the
    three things that actually matter:

    - WORK BOUND: mean probed mass at 4/16 ≤ 0.30 (the old geometry's
      0.34 violates this — skew was costing scan bytes);
    - PROBE QUALITY: recall ≥ max(floor, lift_min × probed mass) at
      both ends of the curve (directional probing must beat
      mass-proportional random list choice by ≥1.8×@4, +0.25@8);
    - EXACTNESS AT FULL PROBE: n_probe = n_clusters scans everything,
      so recall must be exactly 1.0 (same rerank math as brute force).
    """
    from logsqlite_spark.operators.similarity import (
        TOP_K,
        _fit_centers,
        _frozen_assign_encode,
        _probe_lists,
        cosine_topk,
        ivf_topk,
    )
    from logsqlite_spark.tables import table as t

    emb = t(spark, "/root/testdata/sf0.01", "embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    exact = cosine_topk(q, emb)

    truth: dict[int, set[int]] = {}
    for r in exact.collect():
        truth.setdefault(r["qid"], set()).add(r["nid"])
    assert len(truth) == 20

    def mean_recall(**kw) -> float:
        got: dict[int, set[int]] = {}
        for r in ivf_topk(q, emb, **kw).collect():
            got.setdefault(r["qid"], set()).add(r["nid"])
        rec = [len(truth[qid] & got.get(qid, set())) / len(truth[qid])
               for qid in truth]
        return sum(rec) / len(rec)

    def mean_probed_mass(n_probe: int) -> float:
        centers = _fit_centers(emb, 16, "vec_id", "embedding")
        spark_ = emb.sparkSession
        centers_df = spark_.createDataFrame(
            [(i, c) for i, c in enumerate(centers)],
            "cid int, center array<bigint>")
        sizes = {r["__cluster"]: r["n"] for r in
                 _frozen_assign_encode(emb, centers, [1.0] * 64,
                                       "vec_id", "embedding")
                 .groupBy("__cluster").agg(F.count("*").alias("n"))
                 .collect()}
        total = sum(sizes.values())
        probes = _probe_lists(q, centers_df, n_probe,
                              "vec_id", "embedding").collect()
        per_q: dict[int, float] = {}
        for r in probes:
            per_q[r["qid"]] = per_q.get(r["qid"], 0.0) + \
                sizes.get(r["__cluster"], 0) / total
        return sum(per_q.values()) / len(per_q)

    mass4 = mean_probed_mass(4)
    assert mass4 <= 0.30, f"probed mass @4/16 = {mass4:.3f} (skew)"
    at_default = mean_recall()
    assert at_default >= max(0.50, 1.8 * mass4), \
        f"IVF recall@{TOP_K} (defaults) = {at_default:.3f}, " \
        f"probed mass {mass4:.3f}"
    mass8 = mean_probed_mass(8)
    at_half_scan = mean_recall(n_probe=8)
    assert at_half_scan >= mass8 + 0.25, \
        f"IVF recall@{TOP_K} (n_probe=8) = {at_half_scan:.3f}, " \
        f"probed mass {mass8:.3f}"
    assert mean_recall(n_probe=16) == 1.0  # full probe ≡ brute force


def test_sq_topk_recall_vs_exact(spark):
    """Recall@5 of the int8 path vs the brute-force fp ground truth
    at sf0.01: measured 0.87 on the ISOTROPIC synthetic corpus — the
    hardest case for any quantization, because the top-5 of 5,000
    random directions sit within a sim band narrower than the int8
    step, so rank flips are geometric, not a code defect (same
    caveat, same corpus, as the IVF gate above). Pinned >= 0.85 so a
    quantization regression still fails loudly; clustered real
    corpora, with separated neighbors, sit near 1.0, and the standard
    production topping (fp rerank of the int8 top-C) recovers the
    rest."""
    from logsqlite_spark.operators.similarity import cosine_topk, sq_topk
    from logsqlite_spark.tables import table as t

    emb = t(spark, "/root/testdata/sf0.01", "embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    truth: dict[int, set[int]] = {}
    for r in cosine_topk(q, emb).collect():
        truth.setdefault(r["qid"], set()).add(r["nid"])
    got: dict[int, set[int]] = {}
    for r in sq_topk(q, emb).collect():
        got.setdefault(r["qid"], set()).add(r["nid"])
    rec = [len(truth[k] & got.get(k, set())) / len(truth[k]) for k in truth]
    assert sum(rec) / len(rec) >= 0.85, sum(rec) / len(rec)


def test_sq_rerank_recovers_exact_topk(spark):
    """The fp rerank of the int8 top-32 must recover the exact top-5
    on the isotropic corpus (pure SQ measures 0.87 there)."""
    from logsqlite_spark.operators.similarity import (
        cosine_topk, sq_rerank_topk)
    from logsqlite_spark.tables import table as t

    emb = t(spark, "/root/testdata/sf0.01", "embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    exact = {(r["qid"], r["nid"], r["rank"])
             for r in cosine_topk(q, emb).collect()}
    rer = {(r["qid"], r["nid"], r["rank"])
           for r in sq_rerank_topk(q, emb).collect()}
    assert rer == exact


def test_ivf_sq_recall_matches_ivf_at_equal_probes(spark):
    """The composed SQ∘IVF path (int8-scored probed lists + fp rerank)
    must not lose recall vs plain IVF at the same probes: the probed
    candidate set is identical, and the fp rerank of the int8 top-32
    recovers the fp ordering within it (same bound as
    sq_rerank_topk). Measured: exactly equal (0.77 at defaults on the
    isotropic corpus — the geometric scan-fraction floor, see the IVF
    gate above)."""
    from logsqlite_spark.operators.similarity import (
        cosine_topk, ivf_sq_topk, ivf_topk)
    from logsqlite_spark.tables import table as t

    emb = t(spark, "/root/testdata/sf0.01", "embeddings")
    q = emb.filter(F.col("vec_id") < 20)

    def recsets(df) -> dict:
        got: dict[int, set[int]] = {}
        for r in df.collect():
            got.setdefault(r["qid"], set()).add(r["nid"])
        return got

    truth = recsets(cosine_topk(q, emb))

    def mean_recall(got: dict) -> float:
        rec = [len(truth[k] & got.get(k, set())) / len(truth[k])
               for k in truth]
        return sum(rec) / len(rec)

    r_ivf = mean_recall(recsets(ivf_topk(q, emb)))
    r_sq = mean_recall(recsets(ivf_sq_topk(q, emb)))
    assert r_sq >= r_ivf - 1e-9, (r_sq, r_ivf)
    # absolute floor follows the IVF gate's round-13 recalibration:
    # the balanced geometry probes ~25% of the corpus at defaults
    # (the old 0.70 number rode the ml geometry's 0.34 probed mass)
    assert r_sq >= 0.50, r_sq


def test_ivf_sq_dim_mismatch_raises(spark, tmp_path):
    """ADVICE r7: a non-default ``dim`` must never be silently
    zero-coded against an index whose persisted scales cover fewer
    dimensions — an explicit index_path built at sq_dim=64 served to a
    dim=96 caller raises instead of returning wrong-but-plausible
    similarities. (On the auto-persist path the SQ dim is part of the
    index key, so each dim gets its own index.)"""
    from logsqlite_spark.operators.similarity import (
        build_ivf_index, ivf_sq_topk)
    from logsqlite_spark.tables import table as t

    emb = t(spark, "/root/testdata/sf0.001", "embeddings")
    path = str(tmp_path / "ivf_d64")
    build_ivf_index(emb, path, sq_dim=64)
    q = emb.filter(F.col("vec_id") < 3)
    with pytest.raises(ValueError, match="sq_dim"):
        ivf_sq_topk(q, emb, dim=96, index_path=path)


def test_sq_scales_persisted_single_compute(spark):
    """VERDICT r6 #4: the per-dim SQ scale vector must be computed by
    at most ONE full-corpus aggregation per corpus — later sq_topk
    calls load the fingerprint-keyed artifact (the scan happens
    eagerly at plan-build time, so a counter, not a plan pin, is the
    honest gate)."""
    from logsqlite_spark.operators import similarity as S
    from logsqlite_spark.tables import table as t

    emb = t(spark, "/root/testdata/sf0.01", "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    S.sq_topk(q, emb).count()  # builds or loads the artifact
    before = S._SQ_SCALE_COMPUTES
    S.sq_topk(q, emb).count()
    S.sq_rerank_topk(q, emb).count()
    assert S._SQ_SCALE_COMPUTES == before, \
        "scales recomputed after the artifact existed"


# ---------------------------------------------------------------------------
# Incremental IVF index maintenance (VERDICT r8 #3)

def _read_lists(spark, path):
    return (spark.read.option("basePath", f"{path}/lists")
            .parquet(f"{path}/lists"))


def test_ivf_append_equals_frozen_rebuild(spark, tmp_path):
    """An appended index must EQUAL a from-scratch rebuild of the union
    corpus under the same frozen geometry (centroids + scales) — both
    the persisted list rows and the served top-k."""
    from logsqlite_spark.operators.similarity import (
        append_to_ivf_index, build_ivf_index, ivf_topk_indexed)
    from logsqlite_spark.tables import table as t

    emb = t(spark, "/root/testdata/sf0.001", "embeddings")
    base = emb.filter(F.col("vec_id") % 10 != 7)
    batch = emb.filter(F.col("vec_id") % 10 == 7)

    p1 = str(tmp_path / "appended")
    build_ivf_index(base, p1, n_clusters=8)
    out = append_to_ivf_index(batch, p1)
    assert out["mode"] == "append" and out["rows"] == batch.count()

    centers = [[float(x) for x in r["center"]] for r in
               spark.read.parquet(f"{p1}/centroids").orderBy("cid").collect()]
    scales = [float(x) for x in
              spark.read.parquet(f"{p1}/scales").collect()[0]["scales"]]
    p2 = str(tmp_path / "rebuilt")
    build_ivf_index(emb, p2, n_clusters=8, centers=centers, scales=scales)

    rows1 = {(r["nid"], r["__cluster"], tuple(r["code"]))
             for r in _read_lists(spark, p1).collect()}
    rows2 = {(r["nid"], r["__cluster"], tuple(r["code"]))
             for r in _read_lists(spark, p2).collect()}
    assert rows1 == rows2

    q = emb.filter(F.col("vec_id") < 5)
    got1 = sorted(map(tuple, ivf_topk_indexed(spark, q, p1).collect()))
    got2 = sorted(map(tuple, ivf_topk_indexed(spark, q, p2).collect()))
    assert got1 == got2 and len(got1) > 0

    # stats folded the batch in: n covers the whole union
    st = spark.read.parquet(f"{p1}/stats").collect()[0]
    assert st["n"] == emb.count()


def test_ivf_append_scans_only_batch(spark, tmp_path, monkeypatch):
    """The append path's 100 TB contract: appending N rows reads the N
    rows plus the few-KB control artifacts — NEVER the existing lists.
    Pinned with a reader spy (the scan happens eagerly inside append,
    so a counter/spy, not a plan pin, is the honest gate)."""
    import pyspark.sql.readwriter as rw

    from logsqlite_spark.operators.similarity import (
        append_to_ivf_index, build_ivf_index)
    from logsqlite_spark.tables import table as t

    emb = t(spark, "/root/testdata/sf0.001", "embeddings")
    base = emb.filter(F.col("vec_id") % 10 != 7)
    batch = emb.filter(F.col("vec_id") % 10 == 7)
    path = str(tmp_path / "idx")
    build_ivf_index(base, path, n_clusters=8)

    seen = []
    orig = rw.DataFrameReader.parquet

    def spy(self, *paths, **kw):
        seen.extend(paths)
        return orig(self, *paths, **kw)

    monkeypatch.setattr(rw.DataFrameReader, "parquet", spy)
    out = append_to_ivf_index(batch, path)
    assert out["mode"] == "append"
    assert not [p for p in seen if "/lists" in p], seen


def test_ivf_append_requires_completed_index(spark, tmp_path):
    from logsqlite_spark.operators.similarity import append_to_ivf_index
    from logsqlite_spark.tables import table as t

    emb = t(spark, "/root/testdata/sf0.001", "embeddings")
    with pytest.raises(ValueError, match="no completed IVF index"):
        append_to_ivf_index(emb, str(tmp_path / "nope"))


def test_ivf_append_drift_triggers_refit(spark, tmp_path):
    """A batch whose mean assignment distance blows past the baseline
    re-fits the index from lists ∪ batch (the lists carry the fp
    vectors, so no original-corpus handle is needed); the rebuilt index
    serves every row."""
    from logsqlite_spark.operators.similarity import (
        append_to_ivf_index, build_ivf_index)

    base = spark.createDataFrame(
        [(i, [float(i % 4), float((i * 3) % 5), 0.0, 0.0])
         for i in range(40)],
        "vec_id long, embedding array<float>")
    # far-away batch: shifted by +100 on every axis
    batch = spark.createDataFrame(
        [(100 + i, [100.0 + i % 3, 100.0, 100.0, 100.0])
         for i in range(10)],
        "vec_id long, embedding array<float>")
    path = str(tmp_path / "idx")
    build_ivf_index(base, path, n_clusters=4, sq_dim=4)
    out = append_to_ivf_index(batch, path, drift_threshold=1.5)
    assert out["mode"] == "refit"
    assert out["batch_mean_d2"] > 1.5 * out["base_mean_d2"]

    lists = _read_lists(spark, path)
    assert lists.count() == 50
    # refit leaves no scratch dir behind and a fresh drift baseline
    import os
    assert not os.path.exists(os.path.join(path, ".refit_src"))
    st = spark.read.parquet(f"{path}/stats").collect()[0]
    assert st["n"] == 50


def test_ivf_crashed_swap_adoption(spark, tmp_path):
    """Round-15 IVF-soak hardening: the compact/erase staged-swap
    protocol (write staged copy -> delete cluster dir -> rename) can
    be killed between delete and rename, leaving a cluster's ONLY
    copy in the staging dir.  The pre-r15 code used one SHARED staging
    name that the next maintenance call deleted as stale — silent loss
    of the whole cluster.  Staging is now per-cluster and every
    compact/erase entry adopts (cluster dir missing -> finish the
    rename) or discards (cluster dir present -> incomplete duplicate)
    before doing new work."""
    import shutil

    from logsqlite_spark.operators.similarity import (
        build_ivf_index,
        compact_ivf_lists,
        erase_from_ivf_index,
        ivf_topk_indexed,
    )
    from logsqlite_spark.tables import table as t

    emb = t(spark, "/root/testdata/sf0.001", "embeddings")
    path = str(tmp_path / "idx")
    build_ivf_index(emb, path, n_clusters=4)
    lists = sorted(p.name for p in (tmp_path / "idx" / "lists").iterdir()
                   if p.name.startswith("__cluster="))
    victim = lists[0]
    all_ids = {r["nid"] for r in
               spark.read.option("basePath", f"{path}/lists")
               .parquet(f"{path}/lists").select("nid").collect()}

    # simulate the kill window: the staged copy exists, the cluster
    # dir is gone (rename never ran)
    cdir = tmp_path / "idx" / "lists" / victim
    staged = tmp_path / "idx" / f".compact_tmp_{victim}"
    shutil.move(str(cdir), str(staged))
    assert not cdir.exists()

    # any maintenance entry must ADOPT the staged copy, not delete it
    compact_ivf_lists(spark, path, min_files=10**6)  # adoption only
    assert cdir.exists()
    got = {r["nid"] for r in
           spark.read.option("basePath", f"{path}/lists")
           .parquet(f"{path}/lists").select("nid").collect()}
    assert got == all_ids  # nothing lost

    # the duplicate direction: staged copy AND cluster dir both exist
    # (crash during the staged write) -> staged must be discarded
    shutil.copytree(str(cdir), str(staged))
    erase_from_ivf_index(spark, path, [])  # entry adoption runs
    assert not staged.exists() and cdir.exists()
    got = {r["nid"] for r in
           spark.read.option("basePath", f"{path}/lists")
           .parquet(f"{path}/lists").select("nid").collect()}
    assert got == all_ids  # no duplication either

    # and the index still serves (sanity via the probed path)
    q = emb.limit(2).select("vec_id", "embedding") \
        .withColumn("vec_id", F.col("vec_id") + 10**9)
    assert ivf_topk_indexed(spark, q, path, k=3, n_probe=4).count() > 0


def test_ivf_refit_is_crash_safe(spark, tmp_path):
    """Round-15 hardening: a drift-triggered refit rebuilds the lists
    in place, and a kill mid-rebuild used to leave a VALID completion
    marker over partially-overwritten lists (silent corruption).  The
    refit now stages the full union + params meta, takes the marker
    OFF before rebuilding (marker-last restores it), and every
    lifecycle entry heals: marker absent + complete staging ->
    rebuild from the staged union; marker present -> any staging is
    pre-delete garbage, discarded."""
    import json
    import shutil

    from logsqlite_spark.operators.similarity import (
        append_to_ivf_index,
        build_ivf_index,
        compact_ivf_lists,
    )
    from logsqlite_spark.tables import table as t

    emb = t(spark, "/root/testdata/sf0.001", "embeddings")
    base = emb.filter(F.col("vec_id") % 5 != 0)
    batch = emb.filter(F.col("vec_id") % 5 == 0)
    path = str(tmp_path / "idx")
    build_ivf_index(base, path, n_clusters=4)
    base_ids = {r["vec_id"] for r in base.select("vec_id").collect()}
    batch_ids = {r["vec_id"] for r in batch.select("vec_id").collect()}

    # a real end-to-end refit first: forced via a tiny drift threshold
    out = append_to_ivf_index(batch, path, drift_threshold=1e-9)
    assert out["mode"] == "refit"
    got = {r["nid"] for r in
           spark.read.option("basePath", f"{path}/lists")
           .parquet(f"{path}/lists").select("nid").collect()}
    assert got == base_ids | batch_ids
    assert not (tmp_path / "idx" / ".refit_src").exists()
    assert not (tmp_path / "idx" / ".refit_meta.json").exists()

    # crash mid-rebuild: staged union + meta present, marker off,
    # lists mangled (one cluster dir gone)
    lists_dir = tmp_path / "idx" / "lists"
    union = spark.read.option("basePath", str(lists_dir)) \
        .parquet(str(lists_dir)).select("nid", "nv")
    union.write.mode("overwrite").parquet(str(tmp_path / "idx" / ".refit_src"))
    (tmp_path / "idx" / ".refit_meta.json").write_text(
        json.dumps({"n_clusters": 4, "sq_dim": 64}))
    (tmp_path / "idx" / "_INDEX_OK").unlink()
    victim_cluster = sorted(p for p in lists_dir.iterdir()
                            if p.name.startswith("__cluster="))[0]
    shutil.rmtree(victim_cluster)

    # any lifecycle entry heals the refit before doing its own work
    compact_ivf_lists(spark, path, min_files=10**6)
    assert (tmp_path / "idx" / "_INDEX_OK").exists()
    got = {r["nid"] for r in
           spark.read.option("basePath", f"{path}/lists")
           .parquet(f"{path}/lists").select("nid").collect()}
    assert got == base_ids | batch_ids  # nothing lost, nothing duplicated
    assert not (tmp_path / "idx" / ".refit_src").exists()

    # stale-staging direction: marker PRESENT -> staging is garbage
    union2 = spark.read.option("basePath", str(lists_dir)) \
        .parquet(str(lists_dir)).select("nid", "nv").limit(5)
    union2.write.mode("overwrite").parquet(
        str(tmp_path / "idx" / ".refit_src"))
    (tmp_path / "idx" / ".refit_meta.json").write_text(
        json.dumps({"n_clusters": 4, "sq_dim": 64}))
    compact_ivf_lists(spark, path, min_files=10**6)
    assert not (tmp_path / "idx" / ".refit_src").exists()
    assert not (tmp_path / "idx" / ".refit_meta.json").exists()
    got = {r["nid"] for r in
           spark.read.option("basePath", f"{path}/lists")
           .parquet(f"{path}/lists").select("nid").collect()}
    assert got == base_ids | batch_ids


def test_serve_memo_auto_hit_and_lifecycle_invalidation(spark, tmp_path):
    """r16 serve-plan memo: fingerprint-keyed auto indexes reuse the
    constructed serve frames within an application; explicit-path
    (mutable) indexes never memoize, and a lifecycle append both
    drops any memoized state for its path and is visible to the next
    serve call."""
    import logsqlite_spark.operators.similarity as sim
    from logsqlite_spark.operators.similarity import (
        append_to_ivf_index, build_ivf_index, ivf_sq_topk, ivf_topk)
    from logsqlite_spark.tables import table as t

    emb = t(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.filter(F.col("vec_id") < 3)

    # auto path: second call hits the memo (same DataFrame objects)
    ivf_topk(q, emb).collect()
    n_before = len(sim._IVF_SERVE_CACHE)
    assert n_before >= 1
    frames1 = dict(sim._IVF_SERVE_CACHE)
    ivf_topk(q, emb).collect()
    assert dict(sim._IVF_SERVE_CACHE) == frames1  # reused, not rebuilt
    ivf_sq_topk(q, emb).collect()
    assert len(sim._SQ_SCALES_CACHE) >= 1

    # explicit (mutable) path: never enters the cache, and an append
    # is visible on the very next serve
    base = emb.filter(F.col("vec_id") % 10 != 7)
    batch = emb.filter(F.col("vec_id") % 10 == 7)
    path = str(tmp_path / "idx")
    build_ivf_index(base, path, n_clusters=8)
    keys_for_path = [k for k in sim._IVF_SERVE_CACHE if k[1] == path]
    assert not keys_for_path
    got1 = ivf_sq_topk(q, emb, n_clusters=8, index_path=path)
    got1.collect()
    assert not [k for k in sim._IVF_SERVE_CACHE if k[1] == path]
    out = append_to_ivf_index(batch, path)
    assert out["mode"] == "append"
    served = {r["nid"] for r in
              spark.read.option("basePath", f"{path}/lists")
              .parquet(f"{path}/lists").select("nid").collect()}
    batch_ids = {r["vec_id"] for r in batch.select("vec_id").collect()}
    assert batch_ids <= served

    # _drop_serve_memo clears both caches for a path
    app = spark.sparkContext.applicationId
    sim._IVF_SERVE_CACHE[(app, path)] = frames1[next(iter(frames1))]
    sim._SQ_SCALES_CACHE[(app, path)] = [1.0]
    sim._drop_serve_memo(path)
    assert (app, path) not in sim._IVF_SERVE_CACHE
    assert (app, path) not in sim._SQ_SCALES_CACHE
