"""Deduplication operators (SURVEY.md §2.8 X1-X2) over ``documents``.

Scale design:
- **Exact dedup** is a hash-groupBy: one shuffle on a 16-byte digest,
  map-side partial aggregation, no text comparison. At 100 TB the
  shuffle carries (hash, doc_id) pairs only — project before grouping.
- **N-gram Jaccard** uses an inverted-index self-join (token -> docs)
  instead of an all-pairs cross join: only documents sharing a token
  ever meet. Hot tokens are the skew risk; at scale, drop tokens whose
  document frequency exceeds a cap (they contribute no discrimination)
  — AQE skew-join splitting covers the rest.
- **MinHash LSH** (``pyspark.ml.feature.MinHashLSH``) is the sublinear
  path: signature -> band-bucket join, candidates only. Deterministic
  ``seed`` so reruns agree; no SQL oracle (checked rows-only + pytest
  planted duplicates).
"""

from __future__ import annotations

import os

from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from logsqlite_spark import session as _SESSION
from logsqlite_spark.tables import (rebalance_for_compute,
                                    spread_for_checkpoint, table)

JACCARD_THRESHOLD = 0.5

def exact_dedup_groups(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """X1: one row per distinct text — keeper id + duplicate count."""
    return (
        docs.select(F.md5(F.col(text_col)).alias("h"), F.col(id_col))
        .groupBy("h")
        .agg(F.min(id_col).cast("long").alias("keep_id"),
             F.count(F.lit(1)).cast("long").alias("dup_count"))
    )

def exact_dedup_kept(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """X1: the surviving rows (first arrival per distinct text)."""
    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(F.col(id_col))
    return (
        docs.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )

def _doc_tokens(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Distinct (doc_id, token) pairs — the inverted-index input."""
    return (
        docs.select(F.col(id_col).alias("doc_id"),
                    F.explode(F.split(F.col(text_col), " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .distinct()
    )

def jaccard_pairs(docs: DataFrame, threshold: float = JACCARD_THRESHOLD,
                  text_col: str = "text", id_col: str = "doc_id",
                  max_doc_freq: int | None = None,
                  max_df_frac: float | None = None) -> DataFrame:
    """X2 (exact flavor): token-set Jaccard over an inverted-index join.

    shared(a,b) via groupBy on the token join; |a|,|b| from a tiny
    per-doc size table that broadcasts. Integer counts keep the
    similarity exact (no FP divergence vs the oracle).

    Hot-token cap (the scale guard): a stop-word-like token with
    document frequency ~n joins every doc with every other — O(n²) on
    one join key. ``max_doc_freq`` (absolute) or ``max_df_frac``
    (fraction of corpus size, SF-portable: cap = floor(frac * n_docs))
    drops such tokens from the token SETS themselves — index and
    per-doc sizes both — so the result is exactly "Jaccard over the
    capped vocabulary" and stays oracle-mirrorable. The hot list is by
    construction tiny (only tokens with df above the cap), so it
    broadcasts and the prune is a map-side anti-join, no extra shuffle
    of the big side.
    """
    toks = _doc_tokens(docs, text_col, id_col)
    return _jaccard_over_sets(docs, toks, threshold,
                              max_doc_freq, max_df_frac)

def shingle_jaccard_pairs(docs: DataFrame, n: int = 5,
                          threshold: float = JACCARD_THRESHOLD,
                          text_col: str = "text", id_col: str = "doc_id",
                          max_doc_freq: int | None = None,
                          max_df_frac: float | None = None) -> DataFrame:
    """X2 (exact flavor, character n-grams): Jaccard over the set of
    n-char shingles instead of whitespace tokens — robust to word-level
    edits (insertions, reordering) that token Jaccard misses.

    Same inverted-index join as :func:`jaccard_pairs`, same df-cap
    scale guard — shingles have far heavier hot keys than tokens (a
    common 5-gram spans word boundaries in most documents), so at
    scale the cap is mandatory here, not optional: the default caps
    df at 50% of the corpus. Costs one explode (~n_chars rows per doc)
    before the distinct; the index still carries (shingle, doc_id)
    pairs only.
    """
    sh = F.explode(F.expr(
        "transform(sequence(1, greatest(length({c}) - {m}, 1)), "
        "i -> substring({c}, i, {n}))".format(c=text_col, m=n - 1, n=n)
    )).alias("tok")
    toks = (docs.select(F.col(id_col).alias("doc_id"), sh)
            .filter(F.col("tok") != "").distinct())
    return _jaccard_over_sets(docs, toks, threshold,
                              max_doc_freq, max_df_frac)

def _jaccard_over_sets(docs: DataFrame, toks: DataFrame, threshold: float,
                       max_doc_freq: int | None,
                       max_df_frac: float | None) -> DataFrame:
    """Shared inverted-index Jaccard core over distinct (doc_id, tok)."""
    cap = None
    if max_df_frac is not None:
        total = docs.select(F.count(F.lit(1)).alias("__total"))
        cap = F.floor(F.lit(float(max_df_frac)) * F.col("__total"))
    elif max_doc_freq is not None:
        total = None
        cap = F.lit(int(max_doc_freq))
    if cap is not None:
        dfreq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("__df"))
        if max_df_frac is not None:
            dfreq = dfreq.crossJoin(F.broadcast(total))
        hot = dfreq.filter(F.col("__df") > cap).select("tok")
        toks = toks.join(F.broadcast(hot), "tok", "left_anti")
    sizes = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = toks.alias("a")
    b = toks.alias("b")
    shared = (
        a.join(b, on="tok")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    # sizes is one row PER DOCUMENT — unbounded in corpus size, so it
    # must NOT be force-broadcast (a 1e9-doc corpus would OOM the
    # executors). Plain equi-joins: the pairs side is already shuffled,
    # and AQE still picks a broadcast at runtime when sizes is small.
    sa = sizes.select(F.col("doc_id").alias("a_id"), F.col("sz").alias("sa"))
    sb = sizes.select(F.col("doc_id").alias("b_id"), F.col("sz").alias("sb"))
    return (
        shared.join(sa, "a_id").join(sb, "b_id")
        .withColumn(
            "jaccard",
            F.col("shared").cast("double")
            / (F.col("sa") + F.col("sb") - F.col("shared")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(
            F.col("a_id").cast("long"), F.col("b_id").cast("long"),
            F.round("jaccard", 6).alias("jaccard"),
        )
    )

def minhash_lsh_pairs(
    spark: SparkSession,
    docs: DataFrame,
    threshold: float = 0.5,
    num_hash_tables: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """X2 (sublinear flavor): MinHash LSH candidate pairs.

    HashingTF(binary) -> MinHashLSH(seed=42) -> approxSimilarityJoin.
    The join is a band-bucket equi-join under the hood — candidates
    only, never all pairs; this is the 100 TB path.
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH, Tokenizer

    tok = Tokenizer(inputCol=text_col, outputCol="__toks")
    tokenized = tok.transform(
        rebalance_for_compute(docs).select(id_col, text_col)).filter(
        F.size(F.expr("filter(__toks, t -> t != '')")) > 0
    )
    tf = HashingTF(inputCol="__toks", outputCol="__features",
                   numFeatures=1 << 18, binary=True)
    featurized = tf.transform(tokenized)
    mh = MinHashLSH(inputCol="__features", outputCol="__sig",
                    numHashTables=num_hash_tables, seed=42)
    model = mh.fit(featurized)
    pairs = model.approxSimilarityJoin(featurized, featurized,
                                       1.0 - threshold, distCol="__dist")
    left_id, right_id = f"datasetA.{id_col}", f"datasetB.{id_col}"
    return (
        pairs.filter(F.col(left_id) < F.col(right_id))
        .select(
            F.col(left_id).cast("long").alias("a_id"),
            F.col(right_id).cast("long").alias("b_id"),
            F.round(1.0 - F.col("__dist"), 6).alias("est_jaccard"),
        )
    )

def simhash64(text_col, n: int = 32):
    """Column expression: n-bit SimHash of the whitespace token set.

    Pure built-in expressions (no UDF), single pass: token hashes are
    derived once (first 15 md5 hex chars -> 60-bit int), then one
    ``aggregate`` folds them into an n-wide bit-vote vector, and one
    more assembles the fingerprint. Runs entirely in codegen.
    """
    tok_hash = (
        "transform(filter(split({c}, ' '), t -> t != ''), "
        "t -> cast(conv(substring(md5(t), 1, 15), 16, 10) as bigint))"
    ).format(c=text_col)
    votes = (
        f"aggregate({tok_hash}, transform(sequence(0, {n - 1}), b -> 0L), "
        f"(acc, h) -> zip_with(acc, sequence(0, {n - 1}), "
        "(a, b) -> a + (case when (h div shiftleft(1L, b)) % 2 = 1 then 1L else -1L end)))"
    )
    assemble = (
        f"aggregate(zip_with({votes}, sequence(0, {n - 1}), "
        "(v, b) -> case when v > 0 then shiftleft(1L, b) else 0L end), "
        "0L, (acc, x) -> acc + x)"
    )
    return F.expr(assemble)

def simhash_dedup(docs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", n_bits: int = 32) -> DataFrame:
    """X2 (simhash flavor): fingerprint + bucket by exact fingerprint.

    Hamming-distance banding at scale: split the fingerprint into k
    chunks, join on any equal chunk (pigeonhole: hamming<k implies one
    equal chunk). Here we emit the fingerprint per doc.
    """
    return rebalance_for_compute(docs).select(
        F.col(id_col).cast("long").alias("doc_id"),
        simhash64(text_col, n_bits).alias("simhash"),
    )

def simhash_dup_groups(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id",
                       n_bits: int = 60) -> DataFrame:
    """X2 (simhash flavor, the 100 TB path): cluster assignment by
    exact fingerprint equality — (doc_id, rep_id, group_size).

    Pair emission at a Hamming radius is intrinsically super-linear in
    OUTPUT on template-heavy corpora: a duplicate cluster of size g
    yields C(g,2) pairs, and g grows with corpus size (measured here:
    hamming-0 pairs alone grow ~n^1.5 on the synthetic docs table —
    see bench.py scale evidence). Dedup doesn't need the pairs; it
    needs the partition. Grouping on the fingerprint emits one row per
    doc — linear output by construction — in ONE shuffle (a window
    over simhash). Radius>0 pair queries remain available as
    validation/analysis tools (:func:`simhash_band_pairs`).
    """
    from pyspark.sql.window import Window

    sim = simhash_dedup(docs, text_col, id_col, n_bits)
    w = Window.partitionBy("simhash")
    return sim.select(
        "doc_id",
        F.min("doc_id").over(w).cast("long").alias("rep_id"),
        F.count(F.lit(1)).over(w).cast("long").alias("group_size"),
    )

_SIMHASH_ARTIFACT_BUILDS = 0


def simhash_fps_artifact(docs: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id",
                         n_bits: int = 60) -> DataFrame:
    """The corpus-side ``(doc_id, simhash)`` fingerprint table as a
    PERSISTED artifact — fingerprint-keyed parquet under the shared
    artifact root, built once per corpus (the ``winnow_fps_artifact``
    idiom applied to simhash: at 100 TB the at-rest text is
    token-hashed ONCE, ever).  Per-doc computation, so corpus ∪ batch
    = corpus table + the batch's own fingerprints — append
    :func:`simhash_dedup` (new_batch) per ingest batch.  A literal or
    streaming corpus (no backing files to key on) computes inline.
    """
    from logsqlite_spark.artifacts import build_or_serve
    from logsqlite_spark.tables import frames_fingerprint

    global _SIMHASH_ARTIFACT_BUILDS
    spark = docs.sparkSession

    # inline plan built lazily (r16): thrown away whenever the
    # artifact is served; see winnow_fps_artifact
    def inline() -> DataFrame:
        return simhash_dedup(docs, text_col, id_col, n_bits)
    try:
        files = docs.inputFiles()
    except Exception:  # noqa: BLE001 — e.g. streaming frames
        files = []
    if not files:
        return inline()
    from logsqlite_spark.artifacts import write_parts

    path, built = build_or_serve(
        spark,
        # -v2 (r17): size-derived output file count — the raw write
        # inherited the rebalanced compute's 32 partitions and served
        # 32 tiny files per query rep at bench scale (guide §6)
        (frames_fingerprint(docs), text_col, id_col, str(n_bits),
         "simhash-fps-v2"),
        lambda p: (inline().repartition(write_parts(files, spark))
                   .write.mode("overwrite").parquet(f"{p}/fps")))
    if built:
        _SIMHASH_ARTIFACT_BUILDS += 1
    from logsqlite_spark.artifacts import serve_parquet
    return serve_parquet(spark, path, "fps")


def simhash_groups_incremental(new_docs: DataFrame,
                               history_fps: DataFrame,
                               text_col: str = "text",
                               id_col: str = "doc_id",
                               n_bits: int = 60) -> DataFrame:
    """Cluster assignment for a new batch over history ∪ batch,
    without re-hashing the at-rest corpus — the incremental twin of
    :func:`simhash_dup_groups` (the simhash DEPLOYMENT path: one row
    per batch doc, linear output by construction, vs the quarantined
    super-linear radius-pair audit lens).

    ``history_fps`` is the persisted ``(doc_id, simhash)`` table from
    :func:`simhash_fps_artifact` over every prior batch.  A batch
    doc's group is its exact-fingerprint bucket, so the history side
    is semi-joined down to the batch's fingerprint set (broadcast,
    batch-sized build); pruning keeps EVERY union row of every batch
    fingerprint, so ``rep_id`` (min doc_id) and ``group_size`` equal
    the full-recompute values exactly.  Result ≡
    ``simhash_dup_groups(history ∪ batch)`` restricted to batch docs
    (pytest-pinned; the oracled query replays the full formulation).

    Only the batch is tokenized/md5-hashed; history contributes a
    columnar 2-column scan.  One shuffle (the window over simhash).

    ``history_fps`` must be fingerprinted at the SAME ``n_bits`` as
    this call — a width mismatch silently misses matches (the
    persisted artifact keys on ``n_bits``, so the artifact path
    cannot mismatch; hand-built history tables must pass it through).
    """
    batch = simhash_dedup(new_docs, text_col, id_col, n_bits) \
        .withColumn("nw", F.lit(1))
    # materialized ONCE (semi-join build + union probe), O(batch)
    batch = batch.localCheckpoint(eager=True)
    hist = history_fps.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("simhash").cast("long").alias("simhash"),
    ).withColumn("nw", F.lit(0))
    pruned = hist.join(F.broadcast(batch.select("simhash")),
                       "simhash", "leftsemi").unionByName(batch)
    w = Window.partitionBy("simhash")
    return (
        pruned.select(
            "doc_id", "nw",
            F.min("doc_id").over(w).cast("long").alias("rep_id"),
            F.count(F.lit(1)).over(w).cast("long").alias("group_size"))
        .filter(F.col("nw") == 1)
        .select("doc_id", "rep_id", "group_size")
    )


def simhash_band_pairs(docs: DataFrame, max_hamming: int = 3,
                       n_bits: int = 32, n_bands: int = 4,
                       text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """X2 (simhash flavor, validation/analysis): Hamming-banded
    near-dup pairs via combinatorial block banding (Manku et al.,
    WWW'07). The candidate generation is as tight as banding gets
    (see below), but pair OUTPUT cardinality at a Hamming radius is
    super-linear on template-heavy corpora, so the deployment dedup
    path is :func:`simhash_dup_groups` (linear cluster assignment);
    use this for radius analyses and recall audits.

    The fingerprint splits into ``n_bands`` blocks. Two fingerprints
    within Hamming distance ``max_hamming`` differ in at most
    ``max_hamming`` blocks, so they agree exactly on some
    ``r = n_bands - max_hamming`` of them — an equi-join on every
    (combination-id, concatenated r-block key) finds every such pair
    with no all-pairs comparison, and the exact ``bit_count(xor)``
    filter removes key-collision false positives, so the output is
    precisely the hamming <= max_hamming pair set regardless of the
    banding config. With ``n_bands = max_hamming + 1`` this
    degenerates to single-block pigeonhole (r=1). Key width
    ``r * n_bits/n_bands`` is the scale lever: the deployment config
    (n_bits=60, n_bands=6 -> C(6,3)=20 bands of 30-bit keys) puts
    random key collisions at ~n^2/2^30 per band instead of the
    n^2/2^15 that drove measured candidate growth to n^1.6 under the
    old single-block 15-bit chunks; with 30-bit keys candidates are
    the true near-dup pairs plus ~nothing, i.e. linear growth. A
    degenerate hot key (e.g. many empty docs hashing to 0) is the
    same skew class as a hot token — AQE skew-join splits it.
    """
    import itertools

    r = n_bands - max_hamming
    if r < 1:
        raise ValueError("n_bands must be > max_hamming for full recall")
    width = n_bits // n_bands
    sim = simhash_dedup(docs, text_col, id_col, n_bits)
    block = (f"((simhash div shiftleft(1L, {{b}} * {width})) "
             f"% shiftleft(1L, {width}))")
    entries = []
    for j, combo in enumerate(itertools.combinations(range(n_bands), r)):
        key = " + ".join(
            f"{block.format(b=b)} * shiftleft(1L, {i * width})"
            for i, b in enumerate(combo))
        entries.append(F.struct(
            F.lit(j).alias("band"),
            F.expr(key).cast("long").alias("chunk")))
    bands = (
        sim.select("doc_id", "simhash",
                   F.explode(F.array(*entries)).alias("bc"))
        .select("doc_id", "simhash",
                F.col("bc.band").alias("band"),
                F.col("bc.chunk").alias("chunk"))
    )
    a = bands.select(F.col("doc_id").alias("a_id"),
                     F.col("simhash").alias("sa"), "band", "chunk")
    b = bands.select(F.col("doc_id").alias("b_id"),
                     F.col("simhash").alias("sb"), "band", "chunk")
    return (
        a.join(b, on=["band", "chunk"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", "sa", "sb")
        .dropDuplicates(["a_id", "b_id"])
        .withColumn("hamming", F.expr("bit_count(sa ^ sb)").cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("a_id", "b_id", "hamming")
    )

def two_stage_dedup(docs: DataFrame, emb: DataFrame,
                    cos_threshold: float = 0.4,
                    jac_threshold: float = 0.5,
                    method: str = "lsh",
                    id_col: str = "doc_id",
                    vec_col: str = "embedding") -> DataFrame:
    """The composite near-dup pipeline a production corpus actually
    runs: cheap embedding-cosine candidate pairs (stage 1), confirmed
    by exact token-set Jaccard computed ONLY on the candidates
    (stage 2).

    Why two stages at 100 TB: text Jaccard is precise but its inverted
    index is the expensive shuffle; embedding LSH prunes the pair space
    by orders of magnitude first, so the precise comparison runs on a
    sliver. Stage 2's per-pair cost is one ``array_intersect`` of two
    token arrays carried through a broadcast-sized candidate join —
    no corpus-wide token shuffle at all.

    ``method`` is stage 1's candidate generation (see
    :func:`~logsqlite_spark.operators.similarity.embedding_dedup_pairs`).
    The default ``"lsh"`` is the banded sign-LSH sized from n: a few
    candidates per document, and a pair of cosine ≥ 0.98 is missed with
    probability ≤ 1e-6, so its confirmed near copies match those of
    ``"exact"`` (all pairs, O(n²)); ``"exact"`` makes the whole
    pipeline oracle-checkable.  Pairs between ``cos_threshold`` and
    0.98 are candidates only by chance.
    """
    from logsqlite_spark.operators.similarity import embedding_dedup_pairs

    cand = embedding_dedup_pairs(emb, threshold=cos_threshold,
                                 vec_col=vec_col, method=method)
    tk = docs.select(
        F.col(id_col).alias("doc_id"),
        F.array_distinct(F.expr("filter(split(text, ' '), t -> t != '')"))
        .alias("tk"),
    )
    a = tk.select(F.col("doc_id").alias("a_id"), F.col("tk").alias("atk"))
    b = tk.select(F.col("doc_id").alias("b_id"), F.col("tk").alias("btk"))
    shared = F.size(F.array_intersect("atk", "btk"))
    return (
        cand.join(a, "a_id").join(b, "b_id")
        .withColumn("shared", shared)
        .withColumn(
            "jaccard",
            F.col("shared").cast("double")
            / (F.size("atk") + F.size("btk") - F.col("shared")).cast("double"),
        )
        .filter(F.col("jaccard") >= jac_threshold)
        .select(F.col("a_id").cast("long"), F.col("b_id").cast("long"),
                "sim", F.round("jaccard", 6).alias("jaccard"))
    )

# --- portable MinHash (oracle-checkable) ------------------------------------
# K universal-hash permutations over 5-char shingles. All math is in
# int64-safe integer space so Spark and DuckDB agree bit-for-bit:
#   H(s)   = int64 of first 15 md5 hex chars        (< 2^60)
#   H32    = H mod 2^32
#   h_k(s) = (A_k * H32 + B_k) mod P32              (A_k < 2^29 -> no overflow)
MINHASH_K = 8
_P32 = 4294967291  # largest 32-bit prime
_MINHASH_COEFFS = [
    (268435399, 97), (268435367, 193), (268435361, 389), (268435353, 769),
    (268435331, 1543), (268435313, 3079), (268435291, 6151), (268435273, 12289),
]

_SHINGLES = (
    "array_distinct(transform(sequence(1, greatest(length({c}) - 4, 1)), "
    "i -> substring({c}, i, 5)))"
)
_DUCK_SHINGLES = (
    "list_distinct(list_transform(generate_series(1, greatest(length({c}) - 4, 1)), "
    "i -> substr({c}, i, 5)))"
)

def minhash_signature_cols(text_col: str = "text"):
    """K Spark columns m0..m{K-1}: the minhash signature."""
    sh = _SHINGLES.format(c=text_col)
    cols = []
    for k, (a, b) in enumerate(_MINHASH_COEFFS):
        h = (
            f"array_min(transform({sh}, s -> "
            f"(({a}L * (cast(conv(substring(md5(s), 1, 15), 16, 10) as bigint) % 4294967296L) "
            f"+ {b}L) % {_P32}L)))"
        )
        cols.append(F.expr(h).alias(f"m{k}"))
    return cols

def minhash_signatures(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """X2: deterministic minhash signatures, pure built-in expressions.

    Two chained projections, not one: the md5 base hash per shingle is
    by far the expensive term, and inlining it into each of the K
    permutation columns (as ``minhash_signature_cols`` does) computes
    it K times — Catalyst's subexpression elimination cannot dedupe
    across different lambda bodies. Materializing the base-hash array
    once and deriving the K ``array_min`` columns from it is ~K× less
    hashing with bit-identical output.
    """
    base = (
        "transform({sh}, s -> "
        "cast(conv(substring(md5(s), 1, 15), 16, 10) as bigint) % 4294967296L)"
    ).format(sh=_SHINGLES.format(c=text_col))
    hashed = rebalance_for_compute(docs).select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.expr(base).alias("__h"))
    cols = [
        F.expr(f"array_min(transform(__h, h -> ({a}L * h + {b}L) % {_P32}L))")
        .alias(f"m{k}")
        for k, (a, b) in enumerate(_MINHASH_COEFFS)
    ]
    return hashed.select("doc_id", *cols)

def minhash_band_pairs(docs: DataFrame, band_size: int = 4,
                       text_col: str = "text", id_col: str = "doc_id",
                       max_band_freq: int | None = None) -> DataFrame:
    """LSH banding over the signature: candidate pairs agreeing on at
    least one band (bands of ``band_size`` hashes) — candidates only,
    never all pairs.

    Groups-to-pairs, not a self-join (the same argument as
    ``textstats.winnow_matches``, applied here after VERDICT r8's
    bench flag on this operator): a banded SELF-join re-evaluates the
    whole md5-shingle signature pipeline for EACH exchange input —
    stage metrics showed two stages reading identical shuffle bytes
    and together burning ~2x the hashing CPU — and shuffles the bands
    table twice.  Grouping by (band, key) computes signatures ONCE,
    shuffles once, and emits each bucket's pairs in codegen from the
    sorted doc array (a_id < b_id by construction).  Per-group state
    is the bucket's id list — the same cardinality class as the
    join's hash bucket, and any k-doc bucket was already emitting k^2
    candidate pairs under either formulation.  Pair set is identical
    (same buckets, same distinct), so the DuckDB oracle is unchanged.

    ``max_band_freq``: the exact semantics (default) emit EVERY
    bucket's pairs, so a degenerate bucket (near-identical corpus
    mass hashing to one band key) costs k^2 output under any
    formulation — at 100 TB deployments set a cap, and over-cap
    buckets are dropped before any doc list is built via the same
    spill-safe window count the winnow/jaccard df caps use (a capped
    bucket's pairs are blocking losses, exactly like those caps).
    """
    bands = minhash_bands(docs, band_size, text_col, id_col)
    if max_band_freq is not None:
        bands = _cap_band_freq(bands, max_band_freq)
    groups = (
        bands.groupBy("band", "key")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
        .filter(F.size("ds") >= 2)
    )
    return (
        groups.select(F.explode(F.expr(
            "flatten(transform(ds, (x, i) -> "
            "transform(slice(ds, i + 2, size(ds)), "
            "y -> struct(x AS a_id, y AS b_id))))"
        )).alias("p"))
        .select("p.a_id", "p.b_id")
        .distinct()
    )


def minhash_bands(docs: DataFrame, band_size: int = 4,
                  text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """The banded signature as a row table ``(doc_id, band, key)`` —
    the shared input of the batch pair generator, the persisted
    artifact, and the incremental matcher.  Per-doc computation, zero
    shuffle: signature projection then an explode of the band structs.
    """
    sig = minhash_signatures(docs, text_col, id_col)
    n_bands = MINHASH_K // band_size
    return sig.select(
        "doc_id",
        F.explode(F.array(*[
            F.struct(
                F.lit(bi).alias("band"),
                F.concat_ws(",", *[F.col(f"m{bi * band_size + j}")
                                   for j in range(band_size)]).alias("key"),
            )
            for bi in range(n_bands)
        ])).alias("b"),
    ).select("doc_id", "b.band", "b.key")


def _cap_band_freq(bands: DataFrame, max_band_freq: int) -> DataFrame:
    """Drop over-cap (band, key) buckets BEFORE any doc list exists —
    the spill-safe window-count shape shared with the winnow/jaccard
    df caps (WindowExec spills; an agg buffer holding a degenerate
    bucket's full doc list cannot)."""
    w_bk = Window.partitionBy("band", "key")
    return (bands.withColumn("__bf", F.count(F.lit(1)).over(w_bk))
            .filter(F.col("__bf") <= max_band_freq).drop("__bf"))


_MINHASH_ARTIFACT_BUILDS = 0


def minhash_bands_artifact(docs: DataFrame, band_size: int = 4,
                           text_col: str = "text",
                           id_col: str = "doc_id") -> DataFrame:
    """The corpus-side banded-signature table ``(doc_id, band, key)``
    as a PERSISTED artifact — fingerprint-keyed parquet under the
    shared artifact root, built once per corpus and served on every
    later call (the ``winnow_fps_artifact`` idiom applied to minhash:
    at 100 TB the at-rest text is shingled/md5-hashed ONCE, ever).

    Maintenance is incremental by construction: banding is per-doc,
    so the table for corpus ∪ batch is the table for corpus plus the
    batch's own bands — append :func:`minhash_bands` (new_batch) per
    ingest batch (``streaming/incremental.py``'s ``minhash_sink``
    does exactly that).  Reuses the similarity module's artifact
    protocol (root dir, flock + thread lock, completion marker,
    keep-newest GC).  A literal or streaming corpus (no backing files
    to key on) computes inline.
    """
    from logsqlite_spark.artifacts import build_or_serve
    from logsqlite_spark.tables import frames_fingerprint

    global _MINHASH_ARTIFACT_BUILDS
    spark = docs.sparkSession
    # inline plan built LAZILY (r16): constructing the corpus-side
    # hash projection costs ~0.1-0.3 s of driver expression building
    # per call and is thrown away whenever the artifact is served —
    # build it only for the no-files fallback or inside the
    # at-most-once write lambda.
    def inline() -> DataFrame:
        return minhash_bands(docs, band_size, text_col, id_col)
    try:
        files = docs.inputFiles()
    except Exception:  # noqa: BLE001 — e.g. streaming frames
        files = []
    if not files:
        return inline()
    from logsqlite_spark.artifacts import write_parts

    path, built = build_or_serve(
        spark,
        (frames_fingerprint(docs), text_col, id_col, str(band_size),
         # -v2: r17 re-keys the artifact so the size-derived file
         # layout below supersedes r16's core-count layout everywhere
         # (32 x ~2 KB files at bench scale — 32 task launches + 32
         # footer reads per serve, measured as the largest inherited
         # term of the dedup_incremental_banded regression)
         "minhash-bands-v2"),
        # RANGE-SORTED by key (r16): the incremental probe pushes the
        # batch's band-key set into this scan as an In predicate;
        # contiguous key ranges per file/row-group turn that into
        # row-group pruning once the corpus has many more row groups
        # than a batch has keys — the 100 TB regime (at small history
        # the thin scan is read either way; see SCALE_INC3.json).
        # Partition count derives from the SOURCE size (guide §6) —
        # one file at bench scale, hundreds of thousands at 100 TB.
        lambda p: (inline().repartitionByRange(
            write_parts(files, spark), "key")
            .sortWithinPartitions("key")
            .write.mode("overwrite").parquet(f"{p}/bands")))
    if built:
        _MINHASH_ARTIFACT_BUILDS += 1
    from logsqlite_spark.artifacts import serve_parquet
    return serve_parquet(spark, path, "bands")


# batch band-key sets beyond this don't travel as a literal In
# predicate (driver memory + predicate size); the semi-join alone
# then serves correctness at an unpruned thin scan's cost.  Must stay
# at or below the session's parquet.pushdown.inFilterThreshold (the
# shared PARQUET_IN_FILTER_THRESHOLD constant — a pushed In compiles
# to a LEFT-DEEP parquet OR tree whose evaluation recurses once per
# value; ~2000 values StackOverflowErrors the scan task, measured at
# sf0.1; the r16 first cut shipped 8192/5000 and only ran clean below
# ~1k keys).  The assert keeps the two values from drifting apart
# (ADVICE r16 #1).
_BANDED_KEY_PROBE_CAP = 1000
assert _BANDED_KEY_PROBE_CAP <= _SESSION.PARQUET_IN_FILTER_THRESHOLD, (
    "collected band-key probe cap must not exceed the parquet In "
    "pushdown threshold (pushed left-deep OR tree stack depth)")

# history-bands scans below this size skip the collected-key pushdown
# (and its probe collect job) entirely: pruning row groups can only
# pay once the table HAS many row groups.  64 MiB ≈ several parquet
# row groups of band rows; parameterized for deployments whose row
# groups are sized differently.
_BANDS_PUSHDOWN_MIN_BYTES = int(os.environ.get(
    "SPARK_GRAFT_BANDS_PUSHDOWN_MIN_BYTES", str(64 * 1024 * 1024)))


def _history_bands_worth_pushdown(history_bands: DataFrame) -> bool:
    from logsqlite_spark.artifacts import input_bytes

    try:
        files = history_bands.inputFiles()
    except Exception:  # noqa: BLE001 — streaming/in-memory history
        return False
    if not files:
        # in-memory history: nothing to push a scan filter into
        return False
    size = input_bytes(files)
    if size is None:
        # unknowable (remote scheme): keep the pushdown — the 100 TB
        # deployment default, where pruning is the whole point
        return True
    return size >= _BANDS_PUSHDOWN_MIN_BYTES

def minhash_band_pairs_incremental(new_docs: DataFrame,
                                   history_bands: DataFrame,
                                   band_size: int = 4,
                                   text_col: str = "text",
                                   id_col: str = "doc_id",
                                   max_band_freq: int | None = None,
                                   emit_flags: bool = False,
                                   ) -> DataFrame:
    """MinHash-LSH candidate pairs INVOLVING a new batch, without
    re-hashing the at-rest corpus — the incremental twin of
    :func:`minhash_band_pairs`, completing the incremental family
    across every dedup modality (exact/jaccard → ``incremental_dedup``,
    substring → ngram partials, winnow → fp artifact, embedding → IVF
    append, semantic → ``semantic_dedup_incremental``).

    ``history_bands`` is the persisted ``(doc_id, band, key)`` table
    from :func:`minhash_bands_artifact` / :func:`minhash_bands` over
    every prior batch (doc sets disjoint from the batch, which ingest
    guarantees).  A pair touching the batch agrees with it on at
    least one (band, key), so the history side is first semi-joined
    down to the batch's band-key set — a broadcast semi-join against
    a batch-sized build (n_batch × n_bands rows of ~40 B).  Pruning
    keeps EVERY row of every surviving bucket, so bucket membership —
    and, when ``max_band_freq`` is set, each bucket's window count —
    equals the full-recompute value for every batch bucket
    (history-only buckets are dropped, but those can only produce
    history-history pairs, which are filtered anyway).  The result is
    IDENTICAL to ``minhash_band_pairs(history ∪ batch)`` restricted
    to pairs touching the batch (pytest-pinned; the oracled query
    replays the full formulation in SQL).

    Only the batch is shingled/md5-hashed; history contributes a
    columnar 3-column scan.  Same groups-to-pairs shape (never a
    self-join) as the batch operator.
    """
    batch_bands = minhash_bands(new_docs, band_size, text_col, id_col) \
        .withColumn("nw", F.lit(1))
    # materialize the batch's bands ONCE: they feed both the
    # semi-join's build side and the union's probe side, and lazy
    # re-evaluation would re-hash the batch per consumer (the
    # winnow_matches_incremental measurement).  Bounded by the BATCH —
    # O(micro-batch), never O(corpus).  The minhash compute itself is
    # already parallel: minhash_signatures rebalances bare file-scan
    # inputs, and checkpointed batch inputs carry their own spread
    # layout (incremental_dedup_banded) — an r16 experiment that
    # round-robined the RESULT here paid an extra exchange for
    # nothing (paired A/B 1.27x slower on dedup_minhash_inc), as did
    # one that fused checkpoint+probe into a driver LocalRelation
    # (1.06-1.10x): the data stays distributed.  The checkpoint is
    # LAZY (r16): the probe collect right below computes every
    # partition (distinct's map stage), so it materializes the
    # checkpoint as a side effect — one control-plane job instead of
    # two, no re-ship.
    batch_bands = batch_bands.localCheckpoint(eager=False)
    hist = history_bands.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("band").cast("int").alias("band"),
        F.col("key").cast("string").alias("key"),
    ).withColumn("nw", F.lit(0))
    # collected-key pushdown (r16, the filter_ids idiom applied to the
    # bands scan): the batch's band-key set is control-plane-sized
    # (n_batch x n_bands strings), so it travels as a STATIC In
    # predicate the parquet scan can evaluate against row-group stats
    # — on the range-sorted artifact this prunes the history read to
    # the row groups actually containing batch keys.  A superset
    # filter only (key alone, not (band, key)); the broadcast
    # semi-join below keeps the exact semantics.  Oversized batches
    # fall back to the plain semi-join.
    #
    # SIZE-GATED (r17, VERDICT r16 #1): the probe costs one
    # control-plane collect job per call plus a ~1k-string predicate
    # in every scan task, while its payoff — row-group pruning — only
    # exists when the history table spans MANY row groups.  Below the
    # threshold the whole history fits in one or two row groups that
    # the scan reads either way, so the probe was pure overhead
    # (measured: the r16 pushdown arrived with a net +0.5 s on
    # dedup_incremental_banded at sf0.1 where the bands artifact is
    # ~0.5 MB).  Unknown sizes (non-local schemes) keep the pushdown —
    # the at-scale default.
    if _history_bands_worth_pushdown(history_bands):
        probe = [r["key"] for r in batch_bands.select("key").distinct()
                 .limit(_BANDED_KEY_PROBE_CAP + 1).collect()]
        if 0 < len(probe) <= _BANDED_KEY_PROBE_CAP:
            hist = hist.filter(F.col("key").isin(probe))
    # no .distinct() on the build side: left-semi semantics ignore
    # build duplicates, and the distinct would cost its own shuffle
    pruned = hist.join(F.broadcast(batch_bands.select("band", "key")),
                       ["band", "key"], "leftsemi") \
        .unionByName(batch_bands)
    if max_band_freq is not None:
        pruned = _cap_band_freq(pruned, max_band_freq)
    groups = (
        pruned.groupBy("band", "key")
        .agg(F.sort_array(F.collect_list(F.struct(
            F.col("doc_id").alias("d"), F.col("nw")))).alias("ds"))
        .filter(F.size("ds") >= 2)
    )
    pairs = (
        groups.select(F.explode(F.expr(
            "flatten(transform(ds, (x, i) -> "
            "transform(slice(ds, i + 2, size(ds)), "
            "y -> struct(x.d AS a_id, y.d AS b_id, "
            "x.nw AS a_nw, y.nw AS b_nw))))"
        )).alias("p"))
        .filter(F.greatest("p.a_nw", "p.b_nw") == 1)
    )
    if emit_flags:
        # a doc's nw is constant across its band rows (batch/history
        # doc sets are disjoint), so distinct over the flagged tuple
        # equals distinct over (a_id, b_id) — callers get the
        # membership flags for free instead of re-joining for them.
        # ADVICE r16 #5: flag constancy RELIES on the ingest
        # disjointness contract (a doc_id never appears in both the
        # batch and history); if that were ever violated, a pair could
        # be emitted twice with different flags.  Impact is contained —
        # the downstream left-anti victim join is idempotent over
        # duplicate build rows — but the contract is the invariant.
        return pairs.select(
            "p.a_id", "p.b_id",
            (F.col("p.a_nw") == 1).alias("a_new"),
            (F.col("p.b_nw") == 1).alias("b_new")).distinct()
    return pairs.select("p.a_id", "p.b_id").distinct()

def _minhash_sig_sql(src: str = "documents") -> str:
    sh = _DUCK_SHINGLES.format(c="text")
    cols = []
    for k, (a, b) in enumerate(_MINHASH_COEFFS):
        cols.append(
            f"list_aggregate(list_transform({sh}, s -> "
            f"(({a} * (CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) % 4294967296) "
            f"+ {b}) % {_P32})), 'min') AS m{k}"
        )
    return "SELECT doc_id, " + ", ".join(cols) + f" FROM {src}"

def _minhash_band_rows_sql(band_size: int = 4, sig: str = "sig") -> str:
    n_bands = MINHASH_K // band_size
    return " UNION ALL ".join(
        "SELECT doc_id, {bi} AS band, concat_ws(',', {ks}) AS key FROM {sig}".format(
            bi=bi, sig=sig,
            ks=", ".join(f"m{bi * band_size + j}" for j in range(band_size)),
        )
        for bi in range(n_bands)
    )

def _minhash_pairs_sql(band_size: int = 4,
                       max_band_freq: int | None = None) -> str:
    band_rows = _minhash_band_rows_sql(band_size)
    cap = (", capped AS (SELECT * FROM (SELECT bands.*, count(*) OVER "
           "(PARTITION BY band, key) AS bf FROM bands) "
           f"WHERE bf <= {max_band_freq})" if max_band_freq is not None
           else "")
    src = "capped" if max_band_freq is not None else "bands"
    return (
        f"WITH sig AS ({_minhash_sig_sql()}), bands AS ({band_rows}){cap} "
        "SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id "
        f"FROM {src} a JOIN {src} b ON a.band = b.band AND a.key = b.key "
        "AND a.doc_id < b.doc_id"
    )

# ---------------------------------------------------------------------------
# registry wiring

# loop rounds of the most recent connected_components call — the
# observable the O(log diameter) convergence test pins (r17)
_CC_LAST_ROUNDS = 0


def connected_components(pairs: DataFrame, a_col: str = "a_id",
                         b_col: str = "b_id",
                         max_iter: int = 30) -> DataFrame:
    """Cluster near-dup pairs into components; the cluster id is the
    min doc id reachable — the step a real pipeline runs after pair
    generation, so "keep one doc per near-dup group" is a filter on
    ``doc_id = cluster_id``.

    Iterative min-label propagation WITH POINTER JUMPING (r17,
    VERDICT r16 #4): each round joins the current labels across the
    symmetrized edge list, keeps the per-node min (``labels ∪
    neighbor-labels → groupBy min``), then composes the labeling with
    itself — ``label ← min(label, label(label))`` — the shortcutting
    step of Shiloach-Vishkin / the star-contraction family (Kiveris et
    al., "Connected Components in MapReduce", SOCC'14).  Propagation
    alone converges in O(component diameter) rounds; composition makes
    the reached distance grow geometrically, so adversarial path
    graphs converge in O(log diameter) rounds (pytest-pinned on a
    41-node path: ≤9 rounds where plain propagation needs ~39).
    Near-dup graphs are shallow (a dup cluster is nearly a clique), so
    the r16 seeding still converges those in ONE round.
    ``localCheckpoint`` truncates the lineage each round so plan size
    stays constant.

    Exactness is unchanged: a label is always the id of some node
    reachable from its owner (composition preserves reachability by
    transitivity, the neighbor-min by the edge), labels never
    increase, and the min-id node of each component keeps label=self
    — so the no-change fixpoint is exactly the min-reachable-id
    labeling the plain loop computed.  Deterministic (min over a fixed
    node set), hence fully oracle-checkable via a reachability
    recursive CTE.
    """
    global _CC_LAST_ROUNDS
    sym = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .union(pairs.select(F.col(b_col).alias("src"),
                            F.col(a_col).alias("dst")))
        .distinct()
        .persist()
    )
    # seed with round 1's output directly (r16): min(node, neighbors)
    # IS what the first propagation round computes from the identity
    # labeling, and the aggregation costs exactly the distinct it
    # replaces — every CC call saves one full join+checkpoint round,
    # and a clique graph (the near-dup common case) now converges in
    # a single loop pass.
    labels = (sym.select(F.col("src").alias("node"),
                         F.least("src", "dst").alias("label"))
              .groupBy("node").agg(F.min("label").alias("label")))
    for rounds in range(1, max_iter + 1):
        nbr = (sym.join(labels, sym["dst"] == labels["node"])
               .select(F.col("src").alias("node"), "label"))
        prop = (labels.union(nbr).groupBy("node")
                .agg(F.min("label").alias("label")))
        # pointer jump: label ← min(label, label(label)).  Every label
        # value is itself a node (labels are reachable member ids and
        # every sym node has a labels row), so the self-join always
        # matches; coalesce is belt-and-suspenders for the root rows.
        lut = prop.select(F.col("node").alias("__l"),
                          F.col("label").alias("__ll"))
        # LAZY checkpoint (r16): the changed-count right below is the
        # materializing action (Spark's local-checkpoint fill-in job
        # covers any partitions its limit short-circuits), so each
        # round is one job instead of two.
        new_labels = (
            prop.join(lut, prop["label"] == lut["__l"], "left")
            .select(prop["node"],
                    F.least(prop["label"],
                            F.coalesce("__ll", prop["label"]))
                    .alias("label"))
            .localCheckpoint(eager=False)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1).count()
        )
        labels = new_labels
        if changed == 0:
            _CC_LAST_ROUNDS = rounds
            break
    else:
        raise RuntimeError(f"components did not converge in {max_iter} rounds")
    sym.unpersist()
    return labels.select(F.col("node").cast("long").alias("doc_id"),
                         F.col("label").cast("long").alias("cluster_id"))


def connected_components_incremental(new_pairs: DataFrame,
                                     history_components: DataFrame,
                                     a_col: str = "a_id",
                                     b_col: str = "b_id",
                                     max_iter: int = 30) -> DataFrame:
    """Update a components table with a batch of NEW edges without
    re-running propagation over the whole graph — the incremental twin
    of :func:`connected_components`, completing the dup-graph story
    (pair generation already has incremental forms; cluster formation
    was the last full-recompute step).

    Contract: ``cc_inc(new_edges, cc(old_edges)) ≡ cc(old ∪ new)``
    (pytest-pinned on explicit edge sets; the oracled registry query
    uses minhash pairs, whose generation decomposes exactly —
    ``pairs(union) = pairs(history) ∪ pairs_touching_batch`` since
    bucket membership is per-doc with no df coupling).

    Exactness argument: each history label IS the min doc id of its
    component, and a new node's provisional label is its own id, so
    running min-label CC on the LABEL graph (one edge per new pair,
    endpoints mapped to current labels) yields, per merged group, the
    min doc id over every member of the union component.  Only
    touched components relabel; untouched rows pass through.  Per-
    batch cost is O(new edges + touched component rows) — propagation
    runs on the label graph, whose size is bounded by the batch's
    edge endpoints, never the corpus.
    """
    hist = history_components.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"))
    # pass the ORIGINAL frame so a bucketed layout's ``bkt`` partition
    # column reaches the delta's pruned endpoint lookup
    m, new_rows = cc_merge_delta(new_pairs, history_components,
                                 a_col, b_col, max_iter)
    # the mapping is bounded by the batch's distinct endpoints; it is
    # already materialized (the CC loop checkpoints its labels), so
    # the size gate is a cheap action — the ivf winner-broadcast rule
    if m.count() <= 5_000_000:
        m = F.broadcast(m)
    hist_re = (hist.join(m, hist["cluster_id"] == m["__old"], "left")
               .select("doc_id",
                       F.coalesce("__new", "cluster_id")
                       .alias("cluster_id")))
    return hist_re.unionByName(new_rows)


#: Fixed modulus of the bucketed at-rest components layout
#: (``write_components_bucketed``): ``bkt = doc_id % CC_N_BUCKETS`` is
#: a directory-level partition column, so an endpoint lookup prunes to
#: the touched buckets' FILES before any row is read.  Part of the
#: layout contract — change it only with a new directory version.
CC_N_BUCKETS = 64

#: Endpoint sets up to this size are collected driver-side to drive
#: the pruned label lookup (a batch of B pairs has <= 2B endpoints —
#: control-plane by the incremental contract); above it the lookup
#: falls back to the plain join (the ivf winner-broadcast rule).
CC_ENDPOINT_PRUNE_CAP = 100_000


def write_components_bucketed(components: DataFrame, path: str) -> None:
    """Persist a components table in the at-rest deployment layout:
    hash-bucketed on ``doc_id`` (``bkt = doc_id % CC_N_BUCKETS`` as a
    partition directory) and sorted by ``doc_id`` within buckets.

    Why: ``cc_merge_delta``'s per-batch cost was the label-lookup
    joins scanning the corpus-sized components table (measured 0.382
    time exponent across a 10x history decade — the one deployment
    path that degraded with corpus size).  With this layout the
    batch's endpoint set selects ``bkt`` partitions at file-listing
    time and ``doc_id`` row groups via min/max stats, so each batch
    reads O(touched buckets) files instead of the corpus.
    """
    (components.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
        F.pmod(F.col("doc_id"), F.lit(CC_N_BUCKETS))
        .cast("int").alias("bkt"))
     .repartition("bkt")
     .sortWithinPartitions("doc_id")
     .write.mode("overwrite").partitionBy("bkt").parquet(path))


def read_components_bucketed(spark: SparkSession, path: str) -> DataFrame:
    """Open a :func:`write_components_bucketed` layout; the ``bkt``
    partition column rides along so ``cc_merge_delta`` can prune."""
    return spark.read.parquet(path)


#: Batches with at most this many candidate edges run the label-graph
#: min-label propagation DRIVER-SIDE (exact union-find over the
#: collected, control-plane-sized label graph).  The distributed CC
#: loop costs ~6 Spark jobs PER ROUND even on a 2-edge graph — pure
#: fixed overhead when the graph fits in a list; above the cap the
#: distributed loop takes over unchanged.
CC_EDGE_COLLECT_CAP = 1_000_000


def _cc_delta_driver_side(spark: SparkSession, pair_rows, hist_rows,
                          endpoints: list[int],
                          ) -> tuple[DataFrame, DataFrame]:
    """Exact min-label merge over the collected label graph.  The
    inputs are control-plane by construction: ``hist_rows`` is the
    endpoint-pruned history (<= |endpoints| rows), ``pair_rows`` the
    batch's candidate edges (<= CC_EDGE_COLLECT_CAP).  Union-find
    attaching the larger root under the smaller yields, per component,
    exactly the min doc id over every member — the same fixpoint the
    distributed min-label loop converges to, with zero iterative
    Spark jobs."""
    lbl = {r["doc_id"]: r["cluster_id"] for r in hist_rows}
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:
            parent[x], x = r, parent[x]
        return r

    nodes: set[int] = set()
    for r in pair_rows:
        la = lbl.get(r["a"], r["a"])
        lb = lbl.get(r["b"], r["b"])
        nodes.add(la)
        nodes.add(lb)
        ra, rb = find(la), find(lb)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    m = spark.createDataFrame(
        [(int(n), int(find(n))) for n in sorted(nodes)],
        "__old long, __new long")
    new_rows = spark.createDataFrame(
        [(int(e), int(find(e))) for e in sorted(endpoints)
         if e not in lbl],
        "doc_id long, cluster_id long")
    return m, new_rows


def _endpoint_pruned_history(history_components: DataFrame,
                             endpoints: list[int]) -> DataFrame:
    """The history rows a batch's endpoint set can possibly need:
    ``doc_id IN (endpoints)`` (a pushed-down parquet predicate; row-
    group min/max prunes when the layout is doc_id-sorted) plus — on a
    :func:`write_components_bucketed` layout — ``bkt IN (touched)``,
    a PARTITION filter that drops untouched buckets' files at listing
    time.  Exact by the bucket invariant ``bkt = doc_id %
    CC_N_BUCKETS``: an endpoint's row, if present, is in its bucket.
    """
    # ONE parsed SQL In (r16): Column.isin builds a Java literal per
    # value over py4j — 1.3 s of driver time at 2k endpoints; the SQL
    # string parses JVM-side in one call and yields the identical In
    # expression.
    if not endpoints:  # SQL "IN ()" does not parse; match isin([])
        return (history_components.filter(F.lit(False))
                .select(F.col("doc_id").cast("long").alias("doc_id"),
                        F.col("cluster_id").cast("long")
                        .alias("cluster_id")))
    cond = F.expr("doc_id IN ({})".format(
        ", ".join(str(int(e)) for e in endpoints)))
    if "bkt" in history_components.columns:
        touched = sorted({e % CC_N_BUCKETS for e in endpoints})
        cond = F.expr("bkt IN ({})".format(
            ", ".join(str(b) for b in touched))) & cond
    return (history_components.filter(cond)
            .select(F.col("doc_id").cast("long").alias("doc_id"),
                    F.col("cluster_id").cast("long").alias("cluster_id")))


def cc_merge_delta(new_pairs: DataFrame, history_components: DataFrame,
                   a_col: str = "a_id", b_col: str = "b_id",
                   max_iter: int = 30) -> tuple[DataFrame, DataFrame]:
    """The DELTA a batch of new edges applies to a components table:
    ``(mapping, new_rows)`` where ``mapping`` is ``(__old, __new)``
    label rewrites over the touched labels and ``new_rows`` is the
    ``(doc_id, cluster_id)`` assignment for nodes the history has
    never seen.  This is the streaming currency — the components sink
    appends ``new_rows`` and the non-identity part of ``mapping``
    instead of rewriting the corpus-sized labels table
    (:mod:`logsqlite_spark.streaming.incremental`).

    Scale: the history table is consulted ONLY at the batch's
    endpoint doc_ids (label lookup + never-seen anti-join), so when
    the endpoint set is control-plane-sized (<=
    ``CC_ENDPOINT_PRUNE_CAP``; a batch of B pairs has <= 2B) it is
    collected and the history side becomes ``doc_id IN (endpoints)``
    — a pushed-down parquet predicate — plus, when the history
    carries the ``bkt`` partition column
    (:func:`write_components_bucketed`), a ``bkt IN (touched)``
    partition filter that prunes whole files before any row is read.
    Exactness is unconditional: every label the delta needs is the
    label OF an endpoint (each touched component is touched via one),
    and an endpoint's history row — if any — lies in its own bucket,
    so the anti-join over the pruned table equals the full one.
    """
    hist = history_components.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"))
    pairs = (new_pairs.select(F.col(a_col).cast("long").alias("a"),
                              F.col(b_col).cast("long").alias("b"))
             # null endpoints can't label or assign — the join paths
             # dropped them implicitly; drop them explicitly so the
             # driver-side fast path never sees None
             .filter(F.col("a").isNotNull() & F.col("b").isNotNull()))
    # materialize the batch edges ONCE (r16): the endpoint take, the
    # edge count, and the collect/label paths each re-ran the whole
    # candidate generator otherwise. O(batch edges), lazily
    # checkpointed — the take below materializes it (fill-in job
    # covers short-circuited partitions).
    pairs = pairs.localCheckpoint(eager=False)
    ep_rows = (pairs.select(F.col("a").alias("node"))
               .unionByName(pairs.select(F.col("b").alias("node")))
               .distinct().take(CC_ENDPOINT_PRUNE_CAP + 1))
    if len(ep_rows) <= CC_ENDPOINT_PRUNE_CAP:
        endpoints = [r["node"] for r in ep_rows]
        pruned = _endpoint_pruned_history(history_components, endpoints)
        n_edges = pairs.count()
        if n_edges <= CC_EDGE_COLLECT_CAP:
            return _cc_delta_driver_side(
                new_pairs.sparkSession, pairs.collect(),
                pruned.collect(), endpoints)
        hist = pruned
    la = hist.select(F.col("doc_id").alias("a"),
                     F.col("cluster_id").alias("la"))
    lb = hist.select(F.col("doc_id").alias("b"),
                     F.col("cluster_id").alias("lb"))
    label_edges = (
        pairs.join(la, "a", "left").join(lb, "b", "left")
        .select(F.coalesce("la", "a").alias("la"),
                F.coalesce("lb", "b").alias("lb"))
        .distinct()
    )
    merged = connected_components(label_edges, "la", "lb", max_iter)
    m = merged.select(F.col("doc_id").alias("__old"),
                      F.col("cluster_id").alias("__new"))
    new_nodes = (
        pairs.select(F.col("a").alias("node"))
        .unionByName(pairs.select(F.col("b").alias("node")))
        .distinct()
        .join(hist, F.col("node") == hist["doc_id"], "left_anti")
    )
    new_rows = (new_nodes.join(m, new_nodes["node"] == m["__old"])
                .select(F.col("node").cast("long").alias("doc_id"),
                        F.col("__new").cast("long").alias("cluster_id")))
    return m, new_rows


def incremental_dedup(new_docs: DataFrame, history: DataFrame,
                      threshold: float = 0.6, n: int = 5,
                      max_df_frac: float = 0.5,
                      max_df: int | None = None,
                      text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Dedup an incoming batch against the at-rest corpus — the shape
    you actually run at 100 TB (the full corpus is never re-deduped;
    only the daily increment is checked against it).

    Two stages, both one-sided so history is scanned but never paired
    with itself:

    1. exact: a new doc whose md5 digest already exists in history
       (or in an earlier-id new doc) is dropped — LEFT ANTI join on
       the digest.
    2. near: shingle Jaccard where pair partners are restricted to
       (history doc) OR (earlier-id new doc) — the inverted-index
       join carries the ``is_new`` flag, so history×history pairs are
       never generated. The df cap is computed over the combined
       corpus, exactly as a full-corpus run would see it.

    Returns the surviving new docs. Deterministic: earlier doc_id
    wins, matching ``exact_dedup_kept``'s first-arrival rule.
    """
    nd = new_docs.select(F.col(id_col).alias("doc_id"),
                         F.col(text_col).alias("text"))
    hd = history.select(F.col(id_col).alias("doc_id"),
                        F.col(text_col).alias("text"))

    # stage 1: exact digests — history's plus earlier new arrivals
    hist_digests = hd.select(F.md5("text").alias("__h")).distinct()
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    first_new = (nd.withColumn("__rn", F.row_number().over(w))
                 .filter(F.col("__rn") == 1).drop("__rn"))
    # two consumers below (shingle index + final anti-join): persist
    # so the exact stage's window doesn't recompute per consumer
    after_exact = first_new.join(
        hist_digests, F.md5(first_new["text"]) == hist_digests["__h"],
        "left_anti").persist()

    # stage 2: shingle inverted index over history ∪ surviving new
    sh = F.explode(F.expr(
        "transform(sequence(1, greatest(length(text) - {m}, 1)), "
        "i -> substring(text, i, {n}))".format(m=n - 1, n=n)
    )).alias("tok")
    all_docs = (after_exact.withColumn("__new", F.lit(True))
                .unionByName(hd.withColumn("__new", F.lit(False))))
    toks = (all_docs.select("doc_id", "__new", sh)
            .filter(F.col("tok") != "").distinct())
    total = all_docs.select(F.count(F.lit(1)).alias("__total"))
    dfreq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("__df"))
    # threshold mirrors incremental_dedup_indexed: the relative cap
    # tightened by the optional ABSOLUTE max_df (the deployment knob —
    # a token with df ∝ corpus under frac·n is O(corpus) pair work
    # per batch occurrence; see the indexed twin's docstring)
    cap = F.floor(F.lit(float(max_df_frac)) * F.col("__total"))
    if max_df is not None:
        cap = F.least(cap, F.lit(int(max_df)))
    hot = (dfreq.crossJoin(F.broadcast(total))
           .filter(F.col("__df") > cap)
           .select("tok"))
    toks = toks.join(F.broadcast(hot), "tok", "left_anti")
    sizes = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))

    a = toks.filter(F.col("__new")).select(
        F.col("doc_id").alias("a_id"), "tok")
    b = toks.select(F.col("doc_id").alias("b_id"),
                    F.col("__new").alias("b_new"), "tok")
    shared = (
        a.join(b, "tok")
        .filter((~F.col("b_new")) | (F.col("b_id") < F.col("a_id")))
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    # per-doc sizes: unbounded — no forced broadcast (see
    # _jaccard_over_sets); AQE broadcasts when genuinely small.
    sa = sizes.select(F.col("doc_id").alias("a_id"), F.col("sz").alias("sa"))
    sb = sizes.select(F.col("doc_id").alias("b_id"), F.col("sz").alias("sb"))
    flagged = (
        shared.join(sa, "a_id").join(sb, "b_id")
        .filter(F.col("shared").cast("double")
                / (F.col("sa") + F.col("sb") - F.col("shared")).cast("double")
                >= threshold)
        .select(F.col("a_id").alias("__bad")).distinct()
    )
    return after_exact.join(
        flagged, after_exact["doc_id"] == flagged["__bad"], "left_anti"
    ).select("doc_id", "text")


class DedupIndex(NamedTuple):
    """The persisted corpus-side state for indexed incremental dedup —
    a classic search-index pair plus the aggregates the df cap needs:

    - ``digests``:  (doc_id, h)      md5 digests (exact stage; doc-
                                     linked so erase can retract them)
    - ``inverted``: (tok, doc_id)    per-doc DISTINCT shingles, tok-keyed
    - ``forward``:  (doc_id, tok)    the same rows, doc-keyed (candidate
                                     size lookups prune by doc_id)
    - ``sizes``:    (doc_id, sz_total) distinct-shingle count per doc
    - ``dfreq``:    (tok, df)        document frequency per shingle
    - ``stats``:    (n_docs)         one row: history doc count
    """

    digests: DataFrame
    inverted: DataFrame
    forward: DataFrame
    sizes: DataFrame
    dfreq: DataFrame
    stats: DataFrame


def dedup_index_tables(history: DataFrame, n: int = 5,
                       text_col: str = "text",
                       id_col: str = "doc_id") -> DedupIndex:
    """The :class:`DedupIndex` tables computed inline (lazy) — the
    fallback for literal/streaming corpora and the builder's source.
    File-backed corpora should go through :func:`dedup_index_artifact`
    so the tables persist columnar instead of re-tokenizing per use."""
    hd = history.select(F.col(id_col).alias("doc_id"),
                        F.col(text_col).alias("text"))
    sh = F.explode(F.expr(
        "transform(sequence(1, greatest(length(text) - {m}, 1)), "
        "i -> substring(text, i, {n}))".format(m=n - 1, n=n)
    )).alias("tok")
    toks = hd.select("doc_id", sh).filter(F.col("tok") != "").distinct()
    return DedupIndex(
        digests=hd.select("doc_id", F.md5("text").alias("h")),
        inverted=toks.select("tok", "doc_id"),
        forward=toks.select("doc_id", "tok"),
        sizes=toks.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("sz_total")),
        dfreq=toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df")),
        stats=hd.select(F.count(F.lit(1)).alias("n_docs")),
    )


_DEDUP_INDEX_BUILDS = 0


def dedup_index_artifact(history: DataFrame, n: int = 5,
                         text_col: str = "text",
                         id_col: str = "doc_id") -> DedupIndex:
    """Build-once/serve-many :class:`DedupIndex` over the at-rest
    corpus (round 9: closes the last per-batch-O(corpus) incremental
    path — ``incremental_dedup`` re-tokenizes the WHOLE history on
    every batch; with this artifact the at-rest text is shingled ONCE,
    ever, and each batch reads columnar index tables instead).

    Storage layout is scale-deliberate: ``inverted`` is range-
    partitioned and sorted by ``tok`` (the batch-token semi-join
    prunes row groups by min/max), ``forward`` by ``doc_id``
    (candidate-doc size lookups prune the same way), ``dfreq`` sorted
    by ``df`` descending (the hot-token scan carries a ``df >
    threshold`` predicate).  The build derives forward/sizes/dfreq
    from the written inverted table — the corpus text is tokenized
    exactly once.  Maintenance: every table is per-doc except
    ``dfreq``/``stats``, which merge by associative sum — the ngram-
    partials idiom; shingle length ``n`` is part of the artifact key.
    """
    from logsqlite_spark.artifacts import build_or_serve
    from logsqlite_spark.tables import frames_fingerprint

    global _DEDUP_INDEX_BUILDS
    spark = history.sparkSession
    # inline plan built lazily (r16): the six-table plan construction
    # is thrown away whenever the artifact is served; see
    # winnow_fps_artifact
    def inline() -> DedupIndex:
        return dedup_index_tables(history, n, text_col, id_col)
    try:
        files = history.inputFiles()
    except Exception:  # noqa: BLE001 — e.g. streaming frames
        files = []
    if not files:
        return inline()

    def _write(p: str) -> None:
        tables = inline()
        (tables.inverted.repartitionByRange("tok")
         .sortWithinPartitions("tok")
         .write.mode("overwrite").parquet(f"{p}/inverted"))
        inv = spark.read.parquet(f"{p}/inverted")
        (inv.select("doc_id", "tok").repartitionByRange("doc_id")
         .sortWithinPartitions("doc_id")
         .write.mode("overwrite").parquet(f"{p}/forward"))
        (inv.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz_total"))
         .write.mode("overwrite").parquet(f"{p}/sizes"))
        (inv.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
         .repartitionByRange(F.col("df").desc())
         .sortWithinPartitions(F.col("df").desc())
         .write.mode("overwrite").parquet(f"{p}/dfreq"))
        tables.digests.write.mode("overwrite").parquet(f"{p}/digests")
        tables.stats.write.mode("overwrite").parquet(f"{p}/stats")

    path, built = build_or_serve(
        spark,
        (frames_fingerprint(history), text_col, id_col, str(n),
         "dedup-index-v2"),
        _write)
    if built:
        _DEDUP_INDEX_BUILDS += 1
    from logsqlite_spark.artifacts import serve_parquet

    def rd(sub):
        return serve_parquet(spark, path, sub)
    return DedupIndex(
        digests=rd("digests"), inverted=rd("inverted"),
        forward=rd("forward"), sizes=rd("sizes"),
        dfreq=rd("dfreq"), stats=rd("stats"))


def incremental_dedup_indexed(new_docs: DataFrame, index: DedupIndex,
                              threshold: float = 0.6, n: int = 5,
                              max_df_frac: float = 0.5,
                              max_df: int | None = None,
                              text_col: str = "text",
                              id_col: str = "doc_id") -> DataFrame:
    """:func:`incremental_dedup` served from the persisted
    :class:`DedupIndex` — result-identical (pytest-pinned; the oracled
    query reuses ``dedup_incremental``'s SQL verbatim), but per batch
    the at-rest corpus contributes COLUMNAR INDEX SCANS instead of a
    full re-tokenization:

    - exact stage: anti-join the batch's digests against ``digests``;
    - df cap: union df for the batch's tokens = persisted ``df`` +
      batch df (a broadcast batch-token semi-join against ``dfreq``);
      history-only hot tokens fall out of a ``df > threshold`` scan of
      ``dfreq`` (file-pruned when sorted by df) — they matter only for
      candidate doc sizes, never for pairing, since pairs share a
      BATCH token by definition;
    - pairing: ``inverted`` semi-joined to the batch's cold tokens
      (broadcast, O(batch) build) — only postings matching the batch
      are ever read;
    - candidate sizes: sz = ``sz_total`` − |doc's tokens ∩ hot|, with
      the hot overlap fetched from ``forward`` pruned to the candidate
      docs.  The hot set is structurally tiny (df > frac·n ⇒ at most
      avg_doc_len/frac such tokens), so its broadcast is bounded; the
      candidate-doc set is bounded by the matched postings and is
      broadcast only under ``cand_broadcast_cap`` rows (the unbounded
      fallback is a plain join, the ivf winner-broadcast rule).

    The per-batch cost is O(batch tokens + matched postings +
    candidate docs' postings).  With only the RELATIVE cap
    (``max_df_frac``) that is NOT independent of corpus size: a token
    whose df grows proportionally with the corpus but stays under
    frac·n contributes O(corpus) matched postings per batch
    occurrence (measured: 0.67 time exponent across a 2k -> 20k
    history decade).  ``max_df`` is the deployment answer — the same
    absolute-cap trade as ``shingle_jaccard_pairs``'s
    ``max_doc_freq`` / minhash's ``max_band_freq``: tokens with union
    df above it are treated as hot (dropped from pairing, subtracted
    from sizes), bounding matched postings at ``max_df`` per distinct
    batch token.  Default ``None`` keeps the exact-oracle semantics
    (``dedup_incremental``'s SQL verbatim).  ``n`` must equal the
    index's shingle length (the artifact key pins it; hand-built
    tables must match).

    Measured cost decomposition (round 11, 50k vs 500k history, fixed
    500-doc batch): the vocabulary-sized terms are flat (dfreq hot
    scan 0.077→0.078s, batch-token df lookup 0.40→0.44s); the
    residual growth is the postings SEMI-JOIN SCAN itself (1.1→9.2s)
    — the inverted table is ~200 rows/doc, and a 500-doc batch
    touches ~50k shingles spread uniformly, so no tok-ordered layout
    can file-prune the read.  That O(corpus-scan)-with-small-constant
    term is structural to exact-Jaccard inverted indexes; the minhash
    path's corpus-side table is 2 rows/doc (100× smaller), which is
    why MINHASH is the 100 TB deployment near-dedup and this path is
    the high-precision lens for bounded corpora (second-decade time
    exponents: minhash −0.066, this path 0.407 — both under the 0.5
    gate, trend documented honestly).
    """
    import math

    nd = new_docs.select(F.col(id_col).alias("doc_id"),
                         F.col(text_col).alias("text"))
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    first_new = (nd.withColumn("__rn", F.row_number().over(w))
                 .filter(F.col("__rn") == 1).drop("__rn"))
    # spread_for_checkpoint: see incremental_dedup_banded — without it
    # the batch's shingle explode below runs single-task.
    # Checkpoints in this function stay EAGER (r16, measured): under
    # AQE, localCheckpoint(eager=False) still executes the upstream
    # query stages at call time (the .rdd finalization), so on these
    # exchange-heavy plans laziness saved nothing and moved a
    # recompute into the final action (11.3+0.9 -> 10.7+1.6 s at
    # sf0.1). The lazy fusion only pays where the checkpoint sits
    # over a narrow plan with a collect right after (the banded
    # paths).
    after_exact = spread_for_checkpoint(first_new.join(
        index.digests, F.md5(first_new["text"]) == index.digests["h"],
        "left_anti")).localCheckpoint(eager=True)

    sh = F.explode(F.expr(
        "transform(sequence(1, greatest(length(text) - {m}, 1)), "
        "i -> substring(text, i, {n}))".format(m=n - 1, n=n)
    )).alias("tok")
    btoks = (after_exact.select("doc_id", sh)
             .filter(F.col("tok") != "").distinct()
             .localCheckpoint(eager=True))

    # control-plane scalars (1-row stats read + a count over the
    # checkpointed batch), the centroid-collect class of driver reads
    n_hist = index.stats.collect()[0]["n_docs"]
    total = n_hist + after_exact.count()
    thr = math.floor(float(max_df_frac) * float(total))
    if max_df is not None:
        thr = min(thr, int(max_df))

    bdf = btoks.groupBy("tok").agg(F.count(F.lit(1)).alias("bdf"))
    hdf = index.dfreq.join(F.broadcast(bdf.select("tok")),
                           "tok", "leftsemi")
    hot_batch = (bdf.join(hdf, "tok", "left")
                 .filter(F.coalesce(F.col("df"), F.lit(0))
                         + F.col("bdf") > F.lit(thr))
                 .select("tok"))
    # history-only hot tokens: their union df IS their history df
    hot_hist_only = (index.dfreq.filter(F.col("df") > F.lit(thr))
                     .join(F.broadcast(bdf.select("tok")),
                           "tok", "left_anti")
                     .select("tok"))

    cold_b = (btoks.join(F.broadcast(hot_batch), "tok", "left_anti")
              .localCheckpoint(eager=True))
    matched = index.inverted.join(F.broadcast(cold_b.select("tok")),
                                  "tok", "leftsemi")

    a = cold_b.select(F.col("doc_id").alias("a_id"), "tok")
    # the a side is the BATCH's cold tokens — micro-increment-bounded
    # by contract, so hint it broadcast (measured ~20% off the pair
    # join at sf0.1), gated on its (checkpointed, cheap-to-count) size
    # so a backfill-sized "batch" degrades to a plain join instead of
    # a driver OOM
    if cold_b.count() <= 5_000_000:
        a = F.broadcast(a)
    b = (matched.select(F.col("doc_id").alias("b_id"), "tok")
         .withColumn("b_new", F.lit(False))
         .unionByName(cold_b.select(F.col("doc_id").alias("b_id"), "tok")
                      .withColumn("b_new", F.lit(True))))
    # b_new is functionally determined by b_id (history and batch doc
    # sets are disjoint), so adding it to the grouping keys is safe —
    # it routes history candidates to the forward-index size path
    shared = (
        a.join(b, "tok")
        .filter((~F.col("b_new")) | (F.col("b_id") < F.col("a_id")))
        .groupBy("a_id", "b_id", "b_new")
        .agg(F.count(F.lit(1)).alias("shared"))
    ).localCheckpoint(eager=True)  # O(candidate pairs); feeds the
    # candidate-doc set, the size joins, and the final filter

    sa_tbl = cold_b.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    cand_hist = (shared.filter(~F.col("b_new"))
                 .select(F.col("b_id").alias("doc_id")).distinct())
    # bounded-build broadcast gate (the ivf winner-broadcast rule):
    # candidate docs are bounded by the matched postings, which a
    # pathological template corpus can blow up — count the (already
    # checkpointed) set and hint only when it is genuinely small
    cand_broadcast_cap = 1_000_000
    cand_small = cand_hist.count() <= cand_broadcast_cap
    cand_b = F.broadcast(cand_hist) if cand_small else cand_hist
    hot_all = hot_batch.unionByName(hot_hist_only)
    n_hot = (index.forward.join(cand_b, "doc_id", "leftsemi")
             .join(F.broadcast(hot_all), "tok", "leftsemi")
             .groupBy("doc_id").agg(F.count(F.lit(1)).alias("nh")))
    sb_hist = (index.sizes.join(cand_b, "doc_id", "leftsemi")
               .join(n_hot, "doc_id", "left")
               .select(F.col("doc_id").alias("b_id"),
                       (F.col("sz_total")
                        - F.coalesce(F.col("nh"), F.lit(0))).alias("sb")))
    sb_tbl = sb_hist.unionByName(
        sa_tbl.select(F.col("doc_id").alias("b_id"),
                      F.col("sz").alias("sb")))
    sa = sa_tbl.select(F.col("doc_id").alias("a_id"),
                       F.col("sz").alias("sa"))
    flagged = (
        shared.join(sa, "a_id").join(sb_tbl, "b_id")
        .filter(F.col("shared").cast("double")
                / (F.col("sa") + F.col("sb") - F.col("shared")).cast("double")
                >= threshold)
        .select(F.col("a_id").alias("__bad")).distinct()
    )
    return after_exact.join(
        flagged, after_exact["doc_id"] == flagged["__bad"], "left_anti"
    ).select("doc_id", "text")


_DOC_DIGESTS_BUILDS = 0


def doc_digests_artifact(docs: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """The corpus-side exact-dedup state ``(doc_id, h)`` as a
    PERSISTED artifact — 1 row/doc, 16-byte digest: the md5 pass over
    the at-rest text runs ONCE, ever; every later batch's exact stage
    is an anti-join against this columnar table (the
    ``minhash_bands_artifact`` idiom at 1 row/doc instead of 2).
    Maintenance is append-per-batch (digests are per-doc);
    ``doc_id``-linked so erase can retract rows.  Literal/streaming
    corpora (no backing files) compute inline."""
    from logsqlite_spark.artifacts import build_or_serve
    from logsqlite_spark.tables import frames_fingerprint

    global _DOC_DIGESTS_BUILDS
    spark = docs.sparkSession

    # inline plan built lazily (r16): see winnow_fps_artifact
    def inline() -> DataFrame:
        return docs.select(F.col(id_col).cast("long").alias("doc_id"),
                           F.md5(F.col(text_col)).alias("h"))
    try:
        files = docs.inputFiles()
    except Exception:  # noqa: BLE001 — e.g. streaming frames
        files = []
    if not files:
        return inline()
    path, built = build_or_serve(
        spark,
        (frames_fingerprint(docs), text_col, id_col, "doc-digests"),
        lambda p: inline().write.mode("overwrite").parquet(f"{p}/digests"))
    if built:
        _DOC_DIGESTS_BUILDS += 1
    from logsqlite_spark.artifacts import serve_parquet
    return serve_parquet(spark, path, "digests")


# candidate-id sets above this are fetched via a plain semi-join
# instead of a collected id filter (the cc endpoint-cap rule,
# dedup.py::_cc_delta_driver_side)
_BANDED_CAND_ID_CAP = 100_000


def incremental_dedup_banded(new_docs: DataFrame, history: DataFrame,
                             threshold: float = JACCARD_THRESHOLD,
                             band_size: int = 4,
                             text_col: str = "text",
                             id_col: str = "doc_id",
                             history_bands: DataFrame | None = None,
                             history_digests: DataFrame | None = None,
                             max_band_freq: int | None = None
                             ) -> DataFrame:
    """Incremental near-dedup with O(batch) per-batch work (round 12,
    VERDICT r11 #1): candidates come from the persisted minhash bands
    artifact (2 rows/doc — the corpus-side table whose per-batch scan
    measured a FLAT −0.066/−0.122 decade exponent), and the exact
    shingle-Jaccard confirm runs on CANDIDATES ONLY (the
    ``lsh_precision`` confirm stage re-used as a dedup verdict).  This
    replaces :func:`incremental_dedup_indexed`'s O(corpus)
    postings-scan term (measured 0.407 second-decade exponent: the
    inverted table is ~200 rows/doc and a batch's shingles spread
    uniformly, so no layout can file-prune the read) as the 100 TB
    deployment path; the indexed twin remains the bounded-corpus
    exact-recall lens.

    Semantics — ``incremental_dedup``'s two stages with LSH-candidate
    pairing and an UNCAPPED exact-Jaccard confirm:

    1. exact: batch docs whose md5 digest exists in history (or in an
       earlier-id batch doc) are dropped — anti-join against the
       persisted :func:`doc_digests_artifact` (1 row/doc columnar).
    2. near: candidate pairs touching the batch from
       :func:`minhash_band_pairs_incremental` (batch banded fresh,
       history served from :func:`minhash_bands_artifact`); each
       candidate confirmed by exact 5-gram-shingle Jaccard ≥
       ``threshold`` computed in-row over the two shingle sets.  A
       confirmed pair drops its batch doc (vs a history partner) or
       its later-id doc (vs an earlier batch partner) — the
       first-arrival rule.

    Banding can only MISS pairs (never invent: the confirm is exact),
    so kept ⊇ ``incremental_dedup(…, max_df_frac=1.0)``'s kept set at
    the same threshold, and the delta IS the banding miss rate —
    measured per-configuration by :func:`lsh_precision`
    (pytest-pinned superset + delta on the driver corpus).

    Scale shape per batch: batch banding + shingling O(batch); history
    contributes the bands semi-scan (2 rows/doc columnar, flat) and
    the digest anti-scan (1 row/doc); candidate history TEXTS are
    fetched by a collected-id pushdown filter (``artifacts.filter_ids``
    — an ``In(doc_id)`` predicate that row-group-prunes an id-sorted
    layout) when the candidate set is control-plane-sized
    (≤ ``_BANDED_CAND_ID_CAP``), falling back to a plain semi-join —
    never an unpruned full-text scan in the deployment regime.
    """
    if history_bands is None:
        history_bands = minhash_bands_artifact(history, band_size,
                                               text_col, id_col)
    if history_digests is None:
        history_digests = doc_digests_artifact(history, text_col, id_col)

    nd = new_docs.select(F.col(id_col).cast("long").alias("doc_id"),
                         F.col(text_col).alias("text"))
    hd = history.select(F.col(id_col).cast("long").alias("doc_id"),
                        F.col(text_col).alias("text"))

    # stage 1: first arrival within the batch, then anti vs history.
    # spread_for_checkpoint: the anti-join output AQE-coalesces to one
    # partition, and the checkpoint would freeze that — the batch
    # minhash (stage 2) and the shingle confirm would then hash
    # single-task (measured ~1s of the query at sf0.1).
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    first_new = (nd.withColumn("__rn", F.row_number().over(w))
                 .filter(F.col("__rn") == 1).drop("__rn"))
    # LAZY checkpoint (r16): stage 2's key-probe collect is the first
    # action over this lineage and computes every partition, so it
    # materializes this checkpoint and the batch-bands one in a single
    # control-plane job (was three sequential jobs).
    after_exact = spread_for_checkpoint(first_new.join(
        history_digests.select(F.col("h").alias("__h")),
        F.md5(first_new["text"]) == F.col("__h"),
        "left_anti")).localCheckpoint(eager=False)

    # stage 2: banded candidates touching the batch (a_id < b_id by
    # the generator's sorted-group construction), with batch-membership
    # flags emitted in-row by the generator (r16 — the two broadcast
    # flag joins this replaced each built their own broadcast inside
    # the confirm plan)
    cand = minhash_band_pairs_incremental(
        after_exact, history_bands, band_size, "text", "doc_id",
        max_band_freq, emit_flags=True).localCheckpoint(eager=False)
    # lazy: the hist_ids probe below materializes it in its own job
    # feeds the id-side pushdown below and the confirm join.  (An r16
    # experiment replaced this checkpoint with one capped collect
    # serving a driver-built LocalRelation — paired A/B measured the
    # fusion 1.10x SLOWER; see minhash_band_pairs_incremental.)

    # candidate history texts: collected-id pushdown when control-
    # plane-sized, plain semi-join fallback (never isin above the cap)
    from logsqlite_spark.artifacts import filter_ids

    hist_ids = (cand.filter(~F.col("a_new"))
                .select(F.col("a_id").alias("doc_id"))
                .unionByName(cand.filter(~F.col("b_new"))
                             .select(F.col("b_id").alias("doc_id")))
                .distinct())
    # ONE control-plane job decides the fetch strategy AND yields the
    # ids: collect capped at cap+1 rows off the checkpointed cand (a
    # count + a second collect would each be their own job)
    probe = hist_ids.limit(_BANDED_CAND_ID_CAP + 1).collect()
    if len(probe) <= _BANDED_CAND_ID_CAP:
        ids = [r["doc_id"] for r in probe]
        hist_cand = filter_ids(hd, "doc_id", ids, keep=True) if ids \
            else hd.limit(0)
    else:
        hist_cand = hd.join(hist_ids, "doc_id", "leftsemi")

    sh_expr = F.expr(_SHINGLES.format(c="text")).alias("s")
    # shingle ONLY candidate-involved docs (r17, guide §1.2 "don't
    # compute things you throw away"): the confirm joins on cand's ids,
    # so a batch doc in no candidate pair never needs its shingle set —
    # yet the r16 shape shingled the WHOLE surviving batch, and twice
    # over, because the a/b join aliases duplicated the union subtree
    # (two parquet scans + two md5 5-gram passes in the executed plan).
    # The candidate id set is O(candidates) and cand is checkpointed,
    # so a broadcast semi-join prunes the batch side exactly the way
    # filter_ids already prunes the history side.  The pruned shingle
    # table is then LAZILY checkpointed: the md5 hashing runs ONCE and
    # both join sides read the materialized blocks.
    cand_ids = (cand.select(F.col("a_id").alias("doc_id"))
                .unionByName(cand.select(F.col("b_id").alias("doc_id"))))
    batch_cand = after_exact.join(F.broadcast(cand_ids), "doc_id",
                                  "leftsemi")
    # rebalance the pruned history-text side too: the In-pruned scan
    # comes back as one split, which would shingle the candidate
    # texts single-task (only pruned rows move — candidate-bounded)
    sh = (batch_cand.select("doc_id", sh_expr)
          .unionByName(rebalance_for_compute(hist_cand)
                       .select("doc_id", sh_expr))
          .localCheckpoint(eager=False))
    a = sh.select(F.col("doc_id").alias("a_id"), F.col("s").alias("sa"))
    b = sh.select(F.col("doc_id").alias("b_id"), F.col("s").alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb")).cast("double")
    jac = inter / (F.size("sa").cast("double")
                   + F.size("sb").cast("double") - inter)
    conf = (cand.join(a, "a_id").join(b, "b_id")
            .filter(jac >= threshold))
    victim = (F.when(F.col("a_new") & F.col("b_new"), F.col("b_id"))
              .when(F.col("a_new"), F.col("a_id"))
              .otherwise(F.col("b_id")))
    # no .distinct() on the victim list: left-anti semantics ignore
    # build-side duplicates, so the dedup exchange bought nothing.
    # F.broadcast: the victim list is candidate-bounded (O(batch) ids
    # of 8 B), but its lineage crosses checkpointed RDDs so Catalyst
    # has no size estimate and statically plans a SortMergeJoin —
    # two exchanges + sorts of batch-sized sides for an anti-join
    # whose build side is control-plane-sized.
    flagged = conf.select(victim.alias("__bad"))
    return after_exact.join(
        F.broadcast(flagged),
        after_exact["doc_id"] == flagged["__bad"], "left_anti"
    ).select("doc_id", "text")


def dedup_decisions(docs: DataFrame, threshold: float = 0.6,
                    max_df_frac: float = 0.5) -> DataFrame:
    """The user-facing end of the dedup pipeline: one row per
    document with the keep/drop verdict and WHY — ``representative``
    (its component's min doc id, kept), ``near_dup`` (dropped in
    favor of its representative), or ``unique`` (in no near-dup pair
    at all).  Composes the certified pieces (shingle-Jaccard pairs →
    connected components) and adds only a left join back to the docs
    scan, so the plan cost is the components query plus one
    broadcast-ready join.  "Drop every flagged doc" is
    ``filter(~keep)``; audit sampling per cluster is a groupBy away.
    """
    pairs = shingle_jaccard_pairs(docs, threshold=threshold,
                                  max_df_frac=max_df_frac)
    comp = connected_components(pairs)
    return _verdict_rows(
        docs.select(F.col("doc_id").cast("long").alias("doc_id"))
        .join(comp.withColumnRenamed("doc_id", "__cd"),
              F.col("doc_id") == F.col("__cd"), "left")
        .select("doc_id", "cluster_id")
    )


def _verdict_rows(assigned: DataFrame) -> DataFrame:
    """(doc_id, cluster_id) → the decisions projection (cluster_id
    NULL ⇒ unique)."""
    return assigned.select(
        "doc_id",
        F.col("cluster_id").cast("long").alias("cluster_id"),
        F.coalesce(F.col("cluster_id") == F.col("doc_id"),
                   F.lit(True)).alias("keep"),
        F.when(F.col("cluster_id").isNull(), F.lit("unique"))
        .when(F.col("cluster_id") == F.col("doc_id"),
              F.lit("representative"))
        .otherwise(F.lit("near_dup")).alias("reason"),
    )


def dedup_decisions_incremental(batch_docs: DataFrame,
                                new_pairs: DataFrame,
                                history_components: DataFrame,
                                id_col: str = "doc_id") -> DataFrame:
    """The decisions DELTA a new batch applies to the verdict table —
    the user-facing end of the dedup pipeline kept current without
    recomputing a corpus-sized row set: one row per batch document
    plus one row per HISTORY document whose verdict changed (its
    component absorbed a smaller label, or a new pair pulled a
    previously-unique doc into a cluster). Upserting the delta over
    the old decisions table ≡ :func:`dedup_decisions`-style verdicts
    over history ∪ batch (pytest-pinned; the oracled registry query
    replays the union and diffs it against the history verdicts in
    SQL).

    Decomposition (all pieces already certified): ``cc_merge_delta``
    yields the label rewrites and the assignments for nodes history
    never saw; changed history rows are exactly the members of
    rewritten labels (reason flips — rep → near_dup — only ever ride
    a cluster_id change, and unique → clustered arrives via the new
    assignments, since a unique doc is absent from the components
    table); batch docs in no pair are emitted as ``unique``. Per-
    batch cost is O(new pairs + touched component rows + batch),
    never O(corpus): untouched components never enter any join — the
    history side is pruned by the (broadcast, size-gated) rewrite
    mapping.
    """
    hist = history_components.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"))
    m, new_rows = cc_merge_delta(new_pairs, hist)
    m_real = m.filter(F.col("__old") != F.col("__new"))
    m_real = m_real.localCheckpoint(eager=True)
    if m_real.count() <= 5_000_000:
        m_real = F.broadcast(m_real)
    changed_hist = (
        hist.join(m_real, hist["cluster_id"] == F.col("__old"))
        .select("doc_id", F.col("__new").alias("cluster_id")))
    members = changed_hist.unionByName(
        new_rows.select("doc_id", "cluster_id"))
    batch_ids = batch_docs.select(
        F.col(id_col).cast("long").alias("doc_id"))
    uniq = (batch_ids.join(members, "doc_id", "left_anti")
            .select("doc_id",
                    F.lit(None).cast("long").alias("cluster_id")))
    return _verdict_rows(members.unionByName(uniq))


def pair_degree_histogram(pairs: DataFrame, a_col: str = "a_id",
                          b_col: str = "b_id") -> DataFrame:
    """Degree distribution of the near-dup pair graph — the triage
    view before cluster formation: a fat tail means templated
    boilerplate (one doc similar to thousands) and predicts both the
    component sizes and the join skew the pair generator will face at
    the next scale-up. Two map-side-combinable aggregations.
    """
    sym = (pairs.select(F.col(a_col).alias("node"))
           .unionAll(pairs.select(F.col(b_col).alias("node"))))
    deg = sym.groupBy("node").agg(F.count(F.lit(1)).alias("degree"))
    return (
        deg.groupBy("degree")
        .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
        .select(F.col("degree").cast("long").alias("degree"), "n_nodes")
    )


def cluster_stats(components: DataFrame) -> DataFrame:
    """Per-cluster membership stats over the components table."""
    return (
        components.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_members"),
             F.max("doc_id").cast("long").alias("max_doc_id"))
    )


def _jaccard_sql(max_df_frac: float,
                 tok_expr: str = "string_split(text, ' ')",
                 threshold: float = 0.5) -> str:
    """DuckDB twin of :func:`jaccard_pairs` /
    :func:`shingle_jaccard_pairs` with the fractional df cap."""
    return (
        "WITH total AS (SELECT count(*) AS n FROM documents), "
        "toks0 AS (SELECT DISTINCT doc_id, t.tok FROM documents, "
        f"  unnest({tok_expr}) AS t(tok) WHERE t.tok <> ''), "
        "dfreq AS (SELECT tok, count(*) AS df FROM toks0 GROUP BY tok), "
        "toks AS (SELECT toks0.doc_id, toks0.tok FROM toks0 "
        "  JOIN dfreq USING (tok), total "
        f"  WHERE df <= floor({max_df_frac!r} * total.n)), "
        "sizes AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY doc_id), "
        "shared AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS shared "
        "  FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id "
        "  GROUP BY a.doc_id, b.doc_id) "
        "SELECT a_id, b_id, round(CAST(shared AS DOUBLE) / "
        "  CAST(sa.sz + sb.sz - shared AS DOUBLE), 6) AS jaccard "
        "FROM shared JOIN sizes sa ON sa.doc_id = a_id "
        "JOIN sizes sb ON sb.doc_id = b_id "
        "WHERE CAST(shared AS DOUBLE) / CAST(sa.sz + sb.sz - shared AS DOUBLE) "
        f">= {threshold!r}"
    )

def _q_dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup_groups(table(spark, sf_dir, "documents"))

def _q_dedup_exact_kept(spark: SparkSession, sf_dir: str) -> DataFrame:
    kept = exact_dedup_kept(table(spark, sf_dir, "documents"))
    return kept.select(
        F.col("doc_id").cast("long"), "lang", "source",
        F.col("n_chars").cast("long"))

def _q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # frac=1.0 wires the cap machinery with a no-op bound (df can never
    # exceed n_docs), so this row stays byte-identical to the uncapped
    # oracle at every SF while exercising the capped plan shape.
    return jaccard_pairs(table(spark, sf_dir, "documents"), max_df_frac=1.0)

def _q_dedup_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    # frac=0.8 actually drops hot tokens at every SF (the synthetic
    # vocabulary has stop-word-like tokens at df ~0.8n); oracle mirrors
    # the same floor(0.8 * n_docs) bound, so the row hash-matches.
    return jaccard_pairs(table(spark, sf_dir, "documents"), max_df_frac=0.8)

def _q_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the daily increment stands in as every 5th doc; the rest is the
    # at-rest corpus
    docs = table(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 5 == 0)
    hist = docs.filter(F.col("doc_id") % 5 != 0)
    kept = incremental_dedup(new, hist)
    return kept.select("doc_id",
                       F.length("text").cast("int").alias("n_chars"))

def _q_incremental_idx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same split and semantics as dedup_incremental, served from the
    persisted DedupIndex — repeated calls never re-tokenize the
    at-rest corpus (the oracle SQL is shared verbatim)."""
    docs = table(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 5 == 0)
    hist = docs.filter(F.col("doc_id") % 5 != 0)
    kept = incremental_dedup_indexed(new, dedup_index_artifact(hist))
    return kept.select("doc_id",
                       F.length("text").cast("int").alias("n_chars"))


def _q_incremental_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same %5 split as dedup_incremental, candidates from the
    persisted minhash bands artifact, exact-Jaccard confirm on
    candidates only — the O(batch) deployment path (VERDICT r11 #1).
    The oracle replays the full formulation in flat SQL: md5 exact
    stage, banding over (survivors ∪ history), confirm, first-arrival
    victim rule."""
    docs = table(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 5 == 0)
    hist = docs.filter(F.col("doc_id") % 5 != 0)
    kept = incremental_dedup_banded(new, hist, threshold=0.6)
    return kept.select("doc_id",
                       F.length("text").cast("int").alias("n_chars"))


def _q_incremental_banded_capped(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """The banded incremental path under the deployment band-freq cap
    (the `dedup_minhash_capped` knob applied to the incremental
    formulation): degenerate (band, key) buckets above the cap are
    dropped BEFORE any doc list exists, bounding candidate work under
    ANY dup-cluster growth.  cap=2 BINDS on the driver corpus (its
    planted exact-dup groups exceed it), so this row certifies the
    cap's semantics, not a no-op."""
    docs = table(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 5 == 0)
    hist = docs.filter(F.col("doc_id") % 5 != 0)
    kept = incremental_dedup_banded(new, hist, threshold=0.6,
                                    max_band_freq=2)
    return kept.select("doc_id",
                       F.length("text").cast("int").alias("n_chars"))


def _q_pair_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = shingle_jaccard_pairs(table(spark, sf_dir, "documents"),
                                  threshold=0.6, max_df_frac=0.5)
    return pair_degree_histogram(pairs)

def _q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = shingle_jaccard_pairs(table(spark, sf_dir, "documents"),
                                  threshold=0.6, max_df_frac=0.5)
    return connected_components(pairs)

def _q_dedup_components_inc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental cluster maintenance over minhash pairs (the pair
    family whose generation decomposes exactly): history components
    come from history-only pairs; the batch contributes its
    batch-touching pairs via the persisted bands artifact."""
    docs = table(spark, sf_dir, "documents")
    hist = docs.filter(F.col("doc_id") % 4 != 0)
    batch = docs.filter(F.col("doc_id") % 4 == 0)
    new_pairs = minhash_band_pairs_incremental(
        batch, minhash_bands_artifact(hist))
    return connected_components_incremental(
        new_pairs, connected_components(minhash_band_pairs(hist)))


def _q_dedup_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_decisions(table(spark, sf_dir, "documents"))


def _q_dedup_decisions_inc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decisions delta over the minhash pair family (generation
    decomposes exactly): history verdicts come from history-only
    pairs; the oracle recomputes union and history verdicts in SQL
    and diffs them."""
    docs = table(spark, sf_dir, "documents")
    hist = docs.filter(F.col("doc_id") % 4 != 0)
    batch = docs.filter(F.col("doc_id") % 4 == 0)
    new_pairs = minhash_band_pairs_incremental(
        batch, minhash_bands_artifact(hist))
    return dedup_decisions_incremental(
        batch, new_pairs,
        connected_components(minhash_band_pairs(hist)))


def _q_dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = shingle_jaccard_pairs(table(spark, sf_dir, "documents"),
                                  threshold=0.6, max_df_frac=0.5)
    return cluster_stats(connected_components(pairs))

def _q_dedup_shingle(spark: SparkSession, sf_dir: str) -> DataFrame:
    # df cap at 50% of the corpus: common 5-grams (spanning frequent
    # word pairs) are the hot-key risk for shingle indexes — far worse
    # than tokens — so the capped path IS the demo path here.
    return shingle_jaccard_pairs(table(spark, sf_dir, "documents"),
                                 threshold=0.6, max_df_frac=0.5)

def _q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 4 tables: halves the candidate join vs the default 8 while the
    # planted-dup recall tests still pass — this is the demo entry, the
    # operator takes num_hash_tables for callers who want more recall
    return minhash_lsh_pairs(spark, table(spark, sf_dir, "documents"),
                             num_hash_tables=4)

def _q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_dedup(table(spark, sf_dir, "documents"))

def _q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # certified at the full-width config (60-bit, 6 blocks, C(6,3)=20
    # combinatorial bands); radius pairs are the validation/audit lens
    # — the deployment dedup path is dedup_simhash_groups below
    return simhash_band_pairs(table(spark, sf_dir, "documents"),
                              n_bits=60, n_bands=6)

def _q_dedup_simhash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_dup_groups(table(spark, sf_dir, "documents"))


def _q_dedup_simhash_inc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch = doc_id % 4 == 0 (the incremental-twin convention);
    history fingerprints come from the persisted artifact, so repeated
    calls never re-hash the at-rest corpus."""
    docs = table(spark, sf_dir, "documents")
    history = docs.filter(F.col("doc_id") % 4 != 0)
    batch = docs.filter(F.col("doc_id") % 4 == 0)
    return simhash_groups_incremental(batch, simhash_fps_artifact(history))

def _simhash_sql(n_bits: int = 32) -> str:
    """DuckDB twin of :func:`simhash64` over documents: same md5-hex
    token hash as the minhash oracle, bit votes via unnest x range."""
    return (
        "SELECT d.doc_id, CAST(coalesce(s.simhash, 0) AS BIGINT) AS simhash "
        "FROM documents d LEFT JOIN ( "
        "  WITH toks AS (SELECT doc_id, "
        "    CAST(concat('0x', substr(md5(t.tok), 1, 15)) AS BIGINT) AS h "
        "    FROM documents, unnest(string_split(text, ' ')) AS t(tok) "
        "    WHERE t.tok <> ''), "
        "  votes AS (SELECT doc_id, bb.b AS bit, "
        "    sum(CASE WHEN (h // (CAST(1 AS BIGINT) << bb.b)) % 2 = 1 "
        "        THEN 1 ELSE -1 END) AS v "
        f"    FROM toks, (SELECT unnest(range({n_bits})) AS b) bb "
        "    GROUP BY doc_id, bb.b) "
        "  SELECT doc_id, sum(CASE WHEN v > 0 "
        "    THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS simhash "
        "  FROM votes GROUP BY doc_id "
        ") s ON d.doc_id = s.doc_id"
    )

def _simhash_pairs_sql(max_hamming: int = 3, n_bits: int = 60) -> str:
    """Brute-force DuckDB twin of :func:`simhash_band_pairs`.

    Combinatorial banding is exact (no false negatives, collisions
    filtered), so the banded Spark output equals the plain all-pairs
    hamming join — which IS the right oracle shape: it pins the
    semantics without mirroring the banding construction, so banding
    config changes can't silently co-vary both sides. All-pairs is
    fine at oracle SF (500 docs -> 125k comparisons).
    """
    return (
        f"WITH sim AS ({_simhash_sql(n_bits)}) "
        "SELECT a.doc_id AS a_id, b.doc_id AS b_id, "
        "CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming "
        "FROM sim a JOIN sim b ON a.doc_id < b.doc_id "
        f"WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}"
    )

def _q_minhash_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_signatures(table(spark, sf_dir, "documents"))

def _q_two_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    # method="exact" makes stage 1 oracle-identical (validation row);
    # the production entry point keeps the default method="lsh"
    return two_stage_dedup(table(spark, sf_dir, "documents"),
                           table(spark, sf_dir, "embeddings"),
                           method="exact")

def _two_stage_sql() -> str:
    """DuckDB twin: stage-1 candidates are the dedup_embedding_pairs
    oracle verbatim; stage 2 confirms with list_intersect Jaccard."""
    from logsqlite_spark.operators.similarity import ORACLES as SIM_ORACLES

    cand = SIM_ORACLES["dedup_embedding_pairs"]
    return (
        f"WITH cand AS ({cand}), "
        "tk AS (SELECT doc_id, list_distinct(list_filter("
        "  string_split(text, ' '), t -> t <> '')) AS tk FROM documents), "
        "j AS (SELECT a_id, b_id, sim, "
        "  len(list_intersect(ta.tk, tb.tk)) AS shared, "
        "  len(ta.tk) AS sa, len(tb.tk) AS sb "
        "  FROM cand JOIN tk ta ON ta.doc_id = a_id "
        "  JOIN tk tb ON tb.doc_id = b_id) "
        "SELECT a_id, b_id, sim, round(CAST(shared AS DOUBLE) "
        "  / CAST(sa + sb - shared AS DOUBLE), 6) AS jaccard FROM j "
        "WHERE CAST(shared AS DOUBLE) / CAST(sa + sb - shared AS DOUBLE) "
        ">= 0.5"
    )

def _q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_band_pairs(table(spark, sf_dir, "documents"))


def _q_minhash_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deployment-capped variant (round 9): degenerate band
    buckets (df > 16) dropped before any doc list is built — fully
    oracled because the cap is a pure (band, key)-count predicate."""
    return minhash_band_pairs(table(spark, sf_dir, "documents"),
                              max_band_freq=16)


def _q_minhash_inc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch = doc_id % 4 == 0 (the incremental-twin convention of
    repeated_ngrams_incremental / text_winnow_matches_inc); history
    bands come from the persisted artifact, so repeated calls never
    re-hash the at-rest corpus."""
    docs = table(spark, sf_dir, "documents")
    history = docs.filter(F.col("doc_id") % 4 != 0)
    batch = docs.filter(F.col("doc_id") % 4 == 0)
    return minhash_band_pairs_incremental(
        batch, minhash_bands_artifact(history))


def minhash_estimate_pairs(docs: DataFrame, band_size: int = 4,
                           text_col: str = "text",
                           id_col: str = "doc_id") -> DataFrame:
    """Banded candidates scored by the MinHash Jaccard ESTIMATE —
    fraction of agreeing signature components (Broder's estimator):
    the similarity ranking you get for free from state the LSH join
    already computed, no shingle-set re-intersection.  ``n_agree`` of
    K=8 components; pairs agree on ≥ one band by construction.

    Scale shape: the signature frame is materialized ONCE
    (localCheckpoint — K longs per doc, ~64 B/doc, far smaller than
    the text it derives from) and feeds all three consumers (band
    grouping + both lookup sides); lazily each would re-run the
    md5-shingle pipeline — the exact double-compute the r8 minhash
    audit caught.  The pair join probes are bounded by the banded
    candidate set.
    """
    sig = minhash_signatures(docs, text_col, id_col) \
        .localCheckpoint(eager=True)
    bands = _bands_from_sigs(sig, band_size)
    groups = (bands.groupBy("band", "key")
              .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
              .filter(F.size("ids") >= 2))
    cand = (groups.select(F.explode(F.expr(
        "flatten(transform(ids, (x, i) -> "
        "transform(slice(ids, i + 2, size(ids)), "
        "y -> struct(x AS a_id, y AS b_id))))")).alias("p"))
        .select("p.a_id", "p.b_id").distinct())
    k = MINHASH_K
    agree = sum(
        (F.col(f"sa.m{j}") == F.col(f"sb.m{j}")).cast("int")
        for j in range(k))
    return (cand.join(sig.alias("sa"),
                      F.col("a_id") == F.col("sa.doc_id"))
            .join(sig.alias("sb"), F.col("b_id") == F.col("sb.doc_id"))
            .select("a_id", "b_id",
                    agree.cast("int").alias("n_agree"))
            .select("a_id", "b_id", "n_agree",
                    F.round(F.col("n_agree").cast("double") / k, 6)
                    .alias("est_sim")))


def _bands_from_sigs(sig: DataFrame, band_size: int) -> DataFrame:
    n_bands = MINHASH_K // band_size
    rows = []
    for bi in range(n_bands):
        key = F.concat_ws(
            ",", *[F.col(f"m{bi * band_size + j}").cast("string")
                   for j in range(band_size)])
        rows.append(sig.select("doc_id", F.lit(bi).alias("band"),
                               key.alias("key")))
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


def edit_confirmed_pairs(docs: DataFrame, threshold: float = 0.8,
                         band_size: int = 8,
                         max_band_freq: int | None = None,
                         text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """MinHash candidates confirmed by character edit distance —
    the high-precision dedup lens: ``sim = 1 −
    levenshtein(a, b) / max(len(a), len(b))``, pairs kept at
    ``sim ≥ threshold``.  Shingle Jaccard misses transpositions and
    over-fires on bag-of-words rewrites; normalized edit similarity
    is the classic confirm stage when the verdict feeds a destructive
    drop.

    Scale shape: the quadratic-per-pair levenshtein runs ONLY on the
    banded candidate set (bounded by the LSH buckets, `max_band_freq`
    capping degenerates), never on the corpus — candidates join back
    to the two text columns (pairs-side shuffle; AQE broadcasts the
    doc side when small) and the edit distance is one codegen
    expression per candidate row.  Both engines implement classic
    character-level Levenshtein, so the oracle composes the minhash
    SQL with DuckDB's `levenshtein` verbatim.
    """
    cand = minhash_band_pairs(docs, band_size, text_col, id_col,
                              max_band_freq)
    # rebalance: the per-pair levenshtein runs where the TEXT side's
    # partitions are (the candidate side broadcasts), so a one-split
    # corpus scan serializes the whole confirm stage
    texts = rebalance_for_compute(docs).select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("__t"))
    a = texts.select(F.col("doc_id").alias("a_id"),
                     F.col("__t").alias("__ta"))
    b = texts.select(F.col("doc_id").alias("b_id"),
                     F.col("__t").alias("__tb"))
    sim = (F.lit(1.0)
           - F.levenshtein("__ta", "__tb").cast("double")
           / F.greatest(F.length("__ta"), F.length("__tb"))
           .cast("double"))
    # filter on the UNROUNDED expression, round only in the projection
    # (ADVICE r10: the oracle's WHERE uses the raw expression, so a
    # sim a hair under threshold must be dropped on both sides; the
    # rounded filter kept it Spark-side only)
    return (cand.join(a, "a_id").join(b, "b_id")
            .filter(sim >= threshold)
            .select("a_id", "b_id", F.round(sim, 6).alias("edit_sim")))


def lsh_precision(docs: DataFrame,
                  threshold: float = JACCARD_THRESHOLD,
                  band_size: int = 8, text_col: str = "text",
                  id_col: str = "doc_id",
                  max_band_freq: int | None = None) -> DataFrame:
    """The LSH configuration's quality gate (round 11): exact shingle
    Jaccard computed over the BANDED CANDIDATES ONLY, rolled up to a
    one-row precision report — ``n_candidates``, ``n_true`` (exact
    jaccard >= threshold), ``precision``, ``mean_jaccard``.  This is
    the number a pipeline owner reads before trusting a band
    configuration at scale: precision near 1 means the bands emit
    almost only true near-dups; low precision means wasted verify
    work (or a threshold/band mismatch).

    Scale shape: the exact-Jaccard cost — in-row
    ``array_intersect`` over the two shingle sets — is paid per
    CANDIDATE pair, never per corpus pair (the ``edit_confirm``
    pattern); recall against non-candidates is intentionally out of
    scope (measuring it requires the quadratic ground truth the LSH
    exists to avoid).  Oracle: the minhash SQL composed with
    DuckDB's list_intersect, shingle expression shared verbatim.
    """
    cand = minhash_band_pairs(docs, band_size, text_col, id_col,
                              max_band_freq)
    # rebalance: the confirm-side shingle projection is the query's
    # single heaviest compute, and a one-split corpus scan would run
    # it single-task (measured 1.7s of the 2.3s query at sf0.1)
    sh = rebalance_for_compute(docs).select(
        F.col(id_col).alias("doc_id"),
        F.expr(_SHINGLES.format(c=text_col)).alias("s"))
    a = sh.select(F.col("doc_id").alias("a_id"), F.col("s").alias("sa"))
    b = sh.select(F.col("doc_id").alias("b_id"), F.col("s").alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb")).cast("double")
    jac = inter / (F.size("sa").cast("double")
                   + F.size("sb").cast("double") - inter)
    j = (cand.join(a, "a_id").join(b, "b_id")
         .select(jac.alias("jac")))
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_candidates"),
        F.sum((F.col("jac") >= threshold).cast("long"))
        .cast("long").alias("n_true"),
        F.round(F.sum((F.col("jac") >= threshold).cast("long"))
                .cast("double") / F.count(F.lit(1)).cast("double"),
                6).alias("precision"),
        F.round(F.avg("jac"), 6).alias("mean_jaccard"))


def cross_source_dup_matrix(docs: DataFrame, band_size: int = 8,
                            text_col: str = "text",
                            id_col: str = "doc_id",
                            source_col: str = "source",
                            max_band_freq: int | None = None
                            ) -> DataFrame:
    """Provenance lens (round 11): near-dup candidate pairs rolled up
    BY SOURCE PAIR — "which feeds copy from each other".  A
    within-source cell means a self-duplicating feed (re-crawls,
    mirrors); a hot off-diagonal cell means two feeds syndicating the
    same content, which double-weights it in training unless one side
    is dropped.  Source pair is ordered lexicographically so (a, b)
    and (b, a) land in one cell.

    Scale: the pair generation IS :func:`minhash_band_pairs` (banded
    candidates, never all-pairs); the rollup adds two broadcast-sized
    joins against the (doc_id, source) projection and one
    map-side-combinable count on the source-pair key (a handful of
    feeds squared — control-plane).  Oracle composes the minhash SQL
    verbatim.
    """
    cand = minhash_band_pairs(docs, band_size, text_col, id_col,
                              max_band_freq)
    src = docs.select(F.col(id_col).alias("doc_id"),
                      F.col(source_col).alias("__s"))
    a = src.select(F.col("doc_id").alias("a_id"),
                   F.col("__s").alias("__sa"))
    b = src.select(F.col("doc_id").alias("b_id"),
                   F.col("__s").alias("__sb"))
    return (cand.join(a, "a_id").join(b, "b_id")
            .select(F.least("__sa", "__sb").alias("source_a"),
                    F.greatest("__sa", "__sb").alias("source_b"))
            .groupBy("source_a", "source_b")
            .agg(F.count(F.lit(1)).cast("long").alias("n_pairs")))


def _q_dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact-duplication rate — the corpus-quality rollup a
    pipeline owner reads before deciding which source to re-crawl or
    down-weight.  One map-side-combinable aggregation over md5 digests
    (count + approx-free exact distinct per source); rate rounded 6."""
    docs = table(spark, sf_dir, "documents")
    return (docs.select("source", F.md5("text").alias("__h"))
            .groupBy("source")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.countDistinct("__h").cast("long").alias("n_unique"))
            .select("source", "n_docs", "n_unique",
                    F.round(1.0 - F.col("n_unique").cast("double")
                            / F.col("n_docs").cast("double"), 6)
                    .alias("dup_rate")))


def _q_edit_confirm(spark: SparkSession, sf_dir: str) -> DataFrame:
    return edit_confirmed_pairs(table(spark, sf_dir, "documents"),
                                threshold=0.5)


def _q_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_estimate_pairs(table(spark, sf_dir, "documents"))


def _q_lsh_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lsh_precision(table(spark, sf_dir, "documents"))


def _q_cross_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cross_source_dup_matrix(table(spark, sf_dir, "documents"))


QUERIES = {
    "dedup_cross_source": _q_cross_source,
    "dedup_lsh_precision": _q_lsh_precision,
    "dedup_edit_confirm": _q_edit_confirm,
    "dedup_minhash_estimate": _q_minhash_estimate,
    "dedup_rate_by_source": _q_dedup_rate_by_source,
    "dedup_exact_groups": _q_dedup_exact_groups,
    "dedup_exact_kept": _q_dedup_exact_kept,
    "dedup_jaccard_pairs": _q_dedup_jaccard,
    "dedup_jaccard_capped": _q_dedup_jaccard_capped,
    "dedup_shingle_pairs": _q_dedup_shingle,
    "dedup_incremental": _q_incremental,
    "dedup_incremental_idx": _q_incremental_idx,
    "dedup_incremental_banded": _q_incremental_banded,
    "dedup_incremental_banded_capped": _q_incremental_banded_capped,
    "dedup_components": _q_dedup_components,
    "dedup_components_inc": _q_dedup_components_inc,
    "dedup_pair_degrees": _q_pair_degrees,
    "dedup_cluster_stats": _q_dedup_cluster_stats,
    "dedup_decisions": _q_dedup_decisions,
    "dedup_decisions_inc": _q_dedup_decisions_inc,
    "dedup_minhash_lsh": _q_dedup_minhash_lsh,  # rows-only (ml LSH)
    "dedup_simhash": _q_dedup_simhash,
    "dedup_simhash_pairs": _q_dedup_simhash_pairs,
    "dedup_simhash_groups": _q_dedup_simhash_groups,
    "dedup_simhash_inc": _q_dedup_simhash_inc,
    "dedup_minhash_sig": _q_minhash_sig,
    "dedup_minhash_pairs": _q_minhash_pairs,
    "dedup_minhash_capped": _q_minhash_capped,
    "dedup_minhash_inc": _q_minhash_inc,
    "dedup_two_stage": _q_two_stage,
}

ORACLES = {
    "dedup_rate_by_source": (
        "SELECT source, CAST(count(*) AS BIGINT) AS n_docs, "
        "CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique, "
        "round(1.0 - CAST(count(DISTINCT md5(text)) AS DOUBLE) "
        "/ CAST(count(*) AS DOUBLE), 6) AS dup_rate "
        "FROM documents GROUP BY source"
    ),
    "dedup_exact_groups": (
        "SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS dup_count "
        "FROM documents GROUP BY md5(text)"
    ),
    "dedup_exact_kept": (
        "SELECT doc_id, lang, source, n_chars FROM documents "
        "WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY md5(text))"
    ),
    "dedup_jaccard_pairs": _jaccard_sql(max_df_frac=1.0),
    "dedup_jaccard_capped": _jaccard_sql(max_df_frac=0.8),
    "dedup_shingle_pairs": _jaccard_sql(
        max_df_frac=0.5, threshold=0.6,
        tok_expr=_DUCK_SHINGLES.format(c="text")),
    "dedup_incremental": (
        "WITH nd AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0), "
        "hd AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0), "
        "firstnew AS (SELECT doc_id, text FROM ("
        "  SELECT doc_id, text, row_number() OVER (PARTITION BY md5(text) "
        "  ORDER BY doc_id) AS rn FROM nd) WHERE rn = 1), "
        "ae AS (SELECT doc_id, text FROM firstnew "
        "  WHERE md5(text) NOT IN (SELECT md5(text) FROM hd)), "
        "alld AS (SELECT doc_id, text, TRUE AS isnew FROM ae "
        "  UNION ALL SELECT doc_id, text, FALSE FROM hd), "
        "toks0 AS (SELECT DISTINCT doc_id, isnew, t.tok FROM alld, "
        "  unnest(list_distinct(list_transform(generate_series(1, "
        "  greatest(length(text) - 4, 1)), i -> substr(text, i, 5)))) "
        "  AS t(tok) WHERE t.tok <> ''), "
        "total AS (SELECT count(*) AS n FROM alld), "
        "dfreq AS (SELECT tok, count(*) AS df FROM toks0 GROUP BY tok), "
        "toks AS (SELECT toks0.* FROM toks0 JOIN dfreq USING (tok), total "
        "  WHERE df <= floor(0.5 * total.n)), "
        "sizes AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY doc_id), "
        "shared AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, "
        "  count(*) AS shared FROM toks a JOIN toks b ON a.tok = b.tok "
        "  AND a.isnew AND (NOT b.isnew OR b.doc_id < a.doc_id) "
        "  GROUP BY a.doc_id, b.doc_id), "
        "flagged AS (SELECT DISTINCT a_id FROM shared "
        "  JOIN sizes sa ON sa.doc_id = a_id "
        "  JOIN sizes sb ON sb.doc_id = b_id "
        "  WHERE CAST(shared AS DOUBLE) / "
        "  CAST(sa.sz + sb.sz - shared AS DOUBLE) >= 0.6) "
        "SELECT doc_id, CAST(length(text) AS INT) AS n_chars FROM ae "
        "WHERE doc_id NOT IN (SELECT a_id FROM flagged)"
    ),
    # indexed twin ≡ incremental_dedup served from the persisted
    # DedupIndex — same semantics, so the oracle SQL is shared
    "dedup_incremental_idx": None,  # patched below to ORACLES["dedup_incremental"]
    "dedup_pair_degrees": (
        "WITH pairs AS ("
        + _jaccard_sql(max_df_frac=0.5, threshold=0.6,
                       tok_expr=_DUCK_SHINGLES.format(c="text"))
        + "), "
        "sym AS (SELECT a_id AS node FROM pairs "
        "UNION ALL SELECT b_id FROM pairs), "
        "deg AS (SELECT node, count(*) AS degree FROM sym GROUP BY node) "
        "SELECT CAST(degree AS BIGINT) AS degree, count(*) AS n_nodes "
        "FROM deg GROUP BY degree"
    ),
    "dedup_components": (
        "WITH RECURSIVE pairs AS ("
        + _jaccard_sql(max_df_frac=0.5, threshold=0.6,
                       tok_expr=_DUCK_SHINGLES.format(c="text"))
        + "), "
        "sym AS (SELECT a_id AS a, b_id AS b FROM pairs "
        "  UNION SELECT b_id, a_id FROM pairs), "
        "nodes AS (SELECT DISTINCT a AS n FROM sym), "
        "reach AS (SELECT n, n AS m FROM nodes "
        "  UNION SELECT r.n, s.b FROM reach r JOIN sym s ON s.a = r.m) "
        "SELECT n AS doc_id, CAST(min(m) AS BIGINT) AS cluster_id "
        "FROM reach GROUP BY n"
    ),
    # incremental CC ≡ full CC over the union pair set; minhash pair
    # generation decomposes exactly (per-doc buckets, no df coupling)
    "dedup_components_inc": (
        "WITH RECURSIVE pairs AS ("
        + _minhash_pairs_sql()
        + "), "
        "sym AS (SELECT a_id AS a, b_id AS b FROM pairs "
        "  UNION SELECT b_id, a_id FROM pairs), "
        "nodes AS (SELECT DISTINCT a AS n FROM sym), "
        "reach AS (SELECT n, n AS m FROM nodes "
        "  UNION SELECT r.n, s.b FROM reach r JOIN sym s ON s.a = r.m) "
        "SELECT n AS doc_id, CAST(min(m) AS BIGINT) AS cluster_id "
        "FROM reach GROUP BY n"
    ),
    # decisions delta ≡ union verdicts diffed against history verdicts
    # (minhash pair family — generation decomposes across the split)
    "dedup_decisions_inc": (
        "WITH RECURSIVE pairs AS ("
        + _minhash_pairs_sql()
        + "), "
        "sym AS (SELECT a_id AS a, b_id AS b FROM pairs "
        "  UNION SELECT b_id, a_id FROM pairs), "
        "nodes AS (SELECT DISTINCT a AS n FROM sym), "
        "reach AS (SELECT n, n AS m FROM nodes "
        "  UNION SELECT r.n, s.b FROM reach r JOIN sym s ON s.a = r.m), "
        "comp AS (SELECT n AS doc_id, min(m) AS cluster_id "
        "FROM reach GROUP BY n), "
        "hpairs AS (SELECT * FROM pairs "
        "WHERE a_id % 4 != 0 AND b_id % 4 != 0), "
        "hsym AS (SELECT a_id AS a, b_id AS b FROM hpairs "
        "  UNION SELECT b_id, a_id FROM hpairs), "
        "hnodes AS (SELECT DISTINCT a AS n FROM hsym), "
        "hreach AS (SELECT n, n AS m FROM hnodes "
        "  UNION SELECT r.n, s.b FROM hreach r JOIN hsym s ON s.a = r.m), "
        "hcomp AS (SELECT n AS doc_id, min(m) AS cluster_id "
        "FROM hreach GROUP BY n), "
        "u AS (SELECT d.doc_id, comp.cluster_id FROM documents d "
        "LEFT JOIN comp ON comp.doc_id = d.doc_id), "
        "h AS (SELECT d.doc_id, hcomp.cluster_id FROM documents d "
        "LEFT JOIN hcomp ON hcomp.doc_id = d.doc_id "
        "WHERE d.doc_id % 4 != 0) "
        "SELECT u.doc_id, CAST(u.cluster_id AS BIGINT) AS cluster_id, "
        "coalesce(u.cluster_id = u.doc_id, TRUE) AS keep, "
        "CASE WHEN u.cluster_id IS NULL THEN 'unique' "
        "  WHEN u.cluster_id = u.doc_id THEN 'representative' "
        "  ELSE 'near_dup' END AS reason "
        "FROM u LEFT JOIN h ON u.doc_id = h.doc_id "
        "WHERE u.doc_id % 4 = 0 "
        "  OR u.cluster_id IS DISTINCT FROM h.cluster_id"
    ),
    "dedup_decisions": (
        "WITH RECURSIVE pairs AS ("
        + _jaccard_sql(max_df_frac=0.5, threshold=0.6,
                       tok_expr=_DUCK_SHINGLES.format(c="text"))
        + "), "
        "sym AS (SELECT a_id AS a, b_id AS b FROM pairs "
        "  UNION SELECT b_id, a_id FROM pairs), "
        "nodes AS (SELECT DISTINCT a AS n FROM sym), "
        "reach AS (SELECT n, n AS m FROM nodes "
        "  UNION SELECT r.n, s.b FROM reach r JOIN sym s ON s.a = r.m), "
        "comp AS (SELECT n AS doc_id, min(m) AS cluster_id "
        "FROM reach GROUP BY n) "
        "SELECT d.doc_id, CAST(comp.cluster_id AS BIGINT) AS cluster_id, "
        "coalesce(comp.cluster_id = d.doc_id, TRUE) AS keep, "
        "CASE WHEN comp.doc_id IS NULL THEN 'unique' "
        "  WHEN comp.cluster_id = d.doc_id THEN 'representative' "
        "  ELSE 'near_dup' END AS reason "
        "FROM documents d LEFT JOIN comp ON comp.doc_id = d.doc_id"
    ),
    "dedup_cluster_stats": (
        "WITH RECURSIVE pairs AS ("
        + _jaccard_sql(max_df_frac=0.5, threshold=0.6,
                       tok_expr=_DUCK_SHINGLES.format(c="text"))
        + "), "
        "sym AS (SELECT a_id AS a, b_id AS b FROM pairs "
        "  UNION SELECT b_id, a_id FROM pairs), "
        "nodes AS (SELECT DISTINCT a AS n FROM sym), "
        "reach AS (SELECT n, n AS m FROM nodes "
        "  UNION SELECT r.n, s.b FROM reach r JOIN sym s ON s.a = r.m), "
        "comp AS (SELECT n AS doc_id, min(m) AS cluster_id "
        "FROM reach GROUP BY n) "
        "SELECT CAST(cluster_id AS BIGINT) AS cluster_id, "
        "count(*) AS n_members, CAST(max(doc_id) AS BIGINT) AS max_doc_id "
        "FROM comp GROUP BY cluster_id"
    ),
    # dedup_minhash_lsh: rows-only (ml-internal hash fns)
    "dedup_simhash": _simhash_sql(),
    "dedup_simhash_pairs": _simhash_pairs_sql(),
    "dedup_simhash_groups": (
        f"WITH sim AS ({_simhash_sql(60)}) "
        "SELECT doc_id, "
        "CAST(min(doc_id) OVER (PARTITION BY simhash) AS BIGINT) AS rep_id, "
        "CAST(count(*) OVER (PARTITION BY simhash) AS BIGINT) AS group_size "
        "FROM sim"
    ),
    # incremental ≡ the full-corpus groups restricted to batch docs
    # (a batch doc's bucket is its exact fingerprint, and the
    # fp-pruned union reproduces min/count over that bucket exactly)
    "dedup_simhash_inc": (
        f"WITH sim AS ({_simhash_sql(60)}), g AS ("
        "SELECT doc_id, "
        "CAST(min(doc_id) OVER (PARTITION BY simhash) AS BIGINT) AS rep_id, "
        "CAST(count(*) OVER (PARTITION BY simhash) AS BIGINT) AS group_size "
        "FROM sim) SELECT * FROM g WHERE doc_id % 4 = 0"
    ),
    "dedup_minhash_sig": _minhash_sig_sql(),
    "dedup_minhash_pairs": _minhash_pairs_sql(),
    "dedup_minhash_capped": _minhash_pairs_sql(max_band_freq=16),
    # incremental ≡ the full-corpus formulation restricted to pairs
    # touching the batch (such a pair shares a batch (band, key), so
    # the band-pruned incremental path reproduces its buckets exactly)
    "dedup_minhash_inc": (
        f"SELECT * FROM ({_minhash_pairs_sql()}) "
        "WHERE a_id % 4 = 0 OR b_id % 4 = 0"
    ),
    "dedup_two_stage": _two_stage_sql(),
}
ORACLES["dedup_incremental_idx"] = ORACLES["dedup_incremental"]
# banded incremental: md5 exact stage, minhash banding over
# (survivors ∪ history), exact-Jaccard confirm on candidates only,
# first-arrival victim rule — flat WITH chain, expressions shared
# verbatim with the sig/band/shingle builders


def _banded_inc_sql(max_band_freq: int | None = None) -> str:
    cap = ("capped AS (SELECT * FROM (SELECT bands.*, count(*) OVER "
           "(PARTITION BY band, key) AS bf FROM bands) "
           f"WHERE bf <= {max_band_freq}), " if max_band_freq is not None
           else "")
    src = "capped" if max_band_freq is not None else "bands"
    return (
        "WITH nd AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0), "
        "hd AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0), "
        "firstnew AS (SELECT doc_id, text FROM ("
        "  SELECT doc_id, text, row_number() OVER (PARTITION BY md5(text) "
        "  ORDER BY doc_id) AS rn FROM nd) WHERE rn = 1), "
        "ae AS (SELECT doc_id, text FROM firstnew "
        "  WHERE md5(text) NOT IN (SELECT md5(text) FROM hd)), "
        "uni AS (SELECT doc_id, text FROM ae "
        "  UNION ALL SELECT doc_id, text FROM hd), "
        f"sig AS ({_minhash_sig_sql('uni')}), "
        f"bands AS ({_minhash_band_rows_sql(4)}), "
        f"{cap}"
        "cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id "
        f"  FROM {src} a JOIN {src} b ON a.band = b.band AND a.key = b.key "
        "  AND a.doc_id < b.doc_id "
        "  WHERE a.doc_id % 5 = 0 OR b.doc_id % 5 = 0), "
        "sh AS (SELECT doc_id, "
        f"{_DUCK_SHINGLES.format(c='text')} AS s FROM uni), "
        "conf AS (SELECT a_id, b_id FROM cand "
        "  JOIN sh sa ON sa.doc_id = a_id JOIN sh sb ON sb.doc_id = b_id "
        "  WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) "
        "  / CAST(len(sa.s) + len(sb.s) "
        "         - len(list_intersect(sa.s, sb.s)) AS DOUBLE) >= 0.6), "
        "flagged AS (SELECT DISTINCT CASE "
        "  WHEN a_id % 5 = 0 AND b_id % 5 = 0 THEN b_id "
        "  WHEN a_id % 5 = 0 THEN a_id ELSE b_id END AS v FROM conf) "
        "SELECT doc_id, CAST(length(text) AS INT) AS n_chars FROM ae "
        "WHERE doc_id NOT IN (SELECT v FROM flagged)"
    )


ORACLES["dedup_incremental_banded"] = _banded_inc_sql()
# capped twin: the deployment band-freq knob certified on the
# incremental formulation (cap computed over survivors ∪ history —
# the incremental generator reproduces every batch bucket's window
# count exactly, per its docstring contract)
ORACLES["dedup_incremental_banded_capped"] = _banded_inc_sql(2)
# edit-distance confirm stage: the minhash candidate SQL composed with
# DuckDB's character-level levenshtein (same semantics as Spark's)
# near-dup candidates rolled up by (lexicographically ordered)
# source pair; candidate SQL shared verbatim
ORACLES["dedup_cross_source"] = (
    f"WITH cand AS ({_minhash_pairs_sql(band_size=8)}) "
    "SELECT least(da.source, db.source) AS source_a, "
    "greatest(da.source, db.source) AS source_b, "
    "CAST(count(*) AS BIGINT) AS n_pairs "
    "FROM cand JOIN documents da ON da.doc_id = a_id "
    "JOIN documents db ON db.doc_id = b_id "
    "GROUP BY 1, 2"
)

# exact jaccard over the banded candidates -> one-row precision
# report; candidate SQL and shingle expression shared verbatim
ORACLES["dedup_lsh_precision"] = (
    f"WITH cand AS ({_minhash_pairs_sql(band_size=8)}), "
    "sh AS (SELECT doc_id, "
    f"{_DUCK_SHINGLES.format(c='text')} AS s FROM documents), "
    "j AS (SELECT CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) "
    "  / CAST(len(sa.s) + len(sb.s) "
    "         - len(list_intersect(sa.s, sb.s)) AS DOUBLE) AS jac "
    "  FROM cand JOIN sh sa ON sa.doc_id = a_id "
    "  JOIN sh sb ON sb.doc_id = b_id) "
    "SELECT CAST(count(*) AS BIGINT) AS n_candidates, "
    f"CAST(sum(CASE WHEN jac >= {JACCARD_THRESHOLD} THEN 1 ELSE 0 "
    "END) AS BIGINT) AS n_true, "
    f"round(CAST(sum(CASE WHEN jac >= {JACCARD_THRESHOLD} THEN 1 "
    "ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) "
    "AS precision, "
    "round(avg(jac), 6) AS mean_jaccard FROM j"
)

ORACLES["dedup_edit_confirm"] = (
    f"WITH cand AS ({_minhash_pairs_sql(band_size=8)}) "
    "SELECT a_id, b_id, round(1.0 - CAST(levenshtein(da.text, db.text) "
    "AS DOUBLE) / CAST(greatest(length(da.text), length(db.text)) "
    "AS DOUBLE), 6) AS edit_sim "
    "FROM cand JOIN documents da ON da.doc_id = a_id "
    "JOIN documents db ON db.doc_id = b_id "
    "WHERE 1.0 - CAST(levenshtein(da.text, db.text) AS DOUBLE) "
    "/ CAST(greatest(length(da.text), length(db.text)) AS DOUBLE) "
    ">= 0.5"
)
# Broder estimate over the banded candidates: candidate SQL verbatim,
# signature CTE joined to both sides, agreement summed per component
_AGREE_SQL = " + ".join(
    f"CASE WHEN sa.m{j} = sb.m{j} THEN 1 ELSE 0 END"
    for j in range(MINHASH_K))
ORACLES["dedup_minhash_estimate"] = (
    f"WITH sig AS ({_minhash_sig_sql()}), "
    f"cand AS ({_minhash_pairs_sql(band_size=4)}) "
    f"SELECT a_id, b_id, CAST({_AGREE_SQL} AS INT) AS n_agree, "
    f"round(CAST({_AGREE_SQL} AS DOUBLE) / {MINHASH_K}, 6) AS est_sim "
    "FROM cand JOIN sig sa ON sa.doc_id = a_id "
    "JOIN sig sb ON sb.doc_id = b_id"
)
