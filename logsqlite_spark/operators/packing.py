"""Sequence packing — batch documents into token-budgeted training
examples.

The last step before an LLM tokenizer sees the corpus: concatenate
documents into fixed-budget "packs" so each training sequence wastes
as little context as possible. True greedy packing (close a pack when
the next document would overflow) is inherently sequential, so it
cannot be a window function; the distributed shape is:

1. **Bucket** the corpus by portable hash (same primitive as
   sampling.py) — packs never span buckets, so buckets pack
   independently and in parallel. Bucket count scales with the
   cluster; each bucket's work is O(docs-in-bucket).
2. **One streaming pass per partition**: hash-partition by bucket,
   sort by (bucket, doc_id) (deterministic), and run the greedy fill
   over the sorted rows in ``mapInArrow``, resetting at each change of
   bucket. State is one running counter — no bucket is ever held in
   memory as a frame.

Output is (doc_id → pack_id, offset) so the actual concatenation can
stay lazy / zero-copy downstream. Deterministic: same corpus, same
budget, same packs, on any partitioning — pinned by pytest. Driver
check is rows-only (greedy reset logic is not expressible in ANSI SQL
without recursion).

Oversized documents (token_count > budget) get a pack of their own
and ``truncated = true`` — the caller decides whether to split or
drop; silently dropping them would bias the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

N_PACK_BUCKETS = 64
PACK_SALT = "pack-v1"

_PACKED_SCHEMA = (
    "doc_id long, bucket int, pack_id long, offset int, "
    "token_count int, truncated boolean"
)


def pack_sequences(docs: DataFrame, budget: int = 2048,
                   id_col: str = "doc_id", text_col: str = "text",
                   n_buckets: int = N_PACK_BUCKETS) -> DataFrame:
    """Assign each document to a token-budgeted pack.

    Token counts are whitespace tokens (swap in a real tokenizer's
    counts by passing a pre-computed column — see ``token_counts`` in
    textstats.py). ``pack_id`` is globally unique:
    ``bucket * 2^40 + local pack index``.

    Oversized docs (> budget) get their own pack and a ``truncated``
    flag; the own-pack rule is fill-based, so zero-token docs — which
    consume no budget — may share an oversized doc's pack (a real
    pipeline drops empty docs at the quality gate before packing; see
    pipeline.py MIN_TOKENS). The SQL oracle replays exactly this
    fill-based walk.
    """
    bucket = F.expr(
        "cast(conv(substr(md5(concat('{salt}:', cast({id} as string))), "
        "1, 15), 16, 10) as bigint) % {n}".format(
            salt=PACK_SALT, id=id_col, n=n_buckets)
    ).cast("int")
    toks = F.expr(
        f"size(filter(split({text_col}, ' '), t -> t != ''))").cast("int")
    # NOT rebalanced (r16, measured): the tokenize+md5 projection is
    # cheap and the repartition(bucket) exchange right below already
    # spreads the walk — adding a round-robin exchange ahead of it was
    # 1.3x slower at sf0.1 (noop A/B 0.66 -> 0.86 s).
    prepped = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        bucket.alias("bucket"),
        toks.alias("token_count"),
    )

    def walk(batches):
        import pyarrow as pa

        # one greedy fill per bucket: rows arrive sorted by (bucket,
        # doc_id), and a partition holds whole buckets, so the state
        # resets at each change of bucket and carries across batches
        b, cur_pack, cur_fill = None, 0, 0
        for batch in batches:
            buckets = batch.column("bucket").to_pylist()
            pack_ids, offsets, truncs = [], [], []
            for bk, tc in zip(buckets,
                              batch.column("token_count").to_pylist()):
                if bk != b:
                    b, cur_pack, cur_fill = bk, 0, 0
                if cur_fill > 0 and cur_fill + tc > budget:
                    cur_pack, cur_fill = cur_pack + 1, 0
                pack_ids.append((b << 40) | cur_pack)
                offsets.append(cur_fill)
                truncs.append(tc > budget)
                if tc > budget:
                    # oversized: own pack, flagged
                    cur_pack, cur_fill = cur_pack + 1, 0
                else:
                    cur_fill += tc
            yield pa.record_batch(
                [batch.column("doc_id"), batch.column("bucket"),
                 pa.array(pack_ids, pa.int64()),
                 pa.array(offsets, pa.int32()),
                 batch.column("token_count"),
                 pa.array(truncs, pa.bool_())],
                names=["doc_id", "bucket", "pack_id", "offset",
                       "token_count", "truncated"])

    return (prepped.repartition("bucket")
            .sortWithinPartitions("bucket", "doc_id")
            .mapInArrow(walk, _PACKED_SCHEMA))


def pack_stats(packed: DataFrame, budget: int = 2048) -> DataFrame:
    """Packing efficiency report: fill rate per bucket — the number a
    pipeline owner watches to size the budget."""
    per_pack = (
        packed.groupBy("bucket", "pack_id")
        .agg(F.sum("token_count").alias("fill"))
    )
    return (
        per_pack.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_packs"),
            F.sum("fill").cast("long").alias("sum_tokens"),
            F.round(F.avg(F.col("fill").cast("double") / budget), 6)
            .alias("avg_fill_rate"),
        )
    )

def emit_packed(docs: DataFrame, budget: int = 2048,
                text_col: str = "text") -> DataFrame:
    """The end product: one row per pack with the concatenated example
    text. Docs concatenate in (offset, doc_id) order — collect_list
    has no deterministic order, so the structs are ``array_sort``-ed
    before joining, making the output independent of partitioning.

    Emits md5 + length of the packed text rather than the text itself
    (the driver hashes row values; a multi-KB text column would also
    dominate the shuffle — in production this projection writes the
    full text to the corpus sink instead).
    """
    packed = pack_sequences(docs, budget=budget, text_col=text_col)
    joined = packed.join(
        docs.select(F.col("doc_id"), F.col(text_col).alias("__text")),
        "doc_id")
    assembled = F.expr(
        "array_join(transform(array_sort(collect_list("
        "named_struct('o', offset, 'd', doc_id, 't', __text))), "
        "x -> x.t), ' ')")
    return (
        joined.groupBy("pack_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_docs"),
            F.sum("token_count").cast("long").alias("fill"),
            F.md5(assembled).alias("text_md5"),
            F.length(assembled).cast("long").alias("text_len"),
        )
    )


# ---------------------------------------------------------------------------
# registry wiring. The greedy fill is sequential per bucket, but a
# bucket is SHORT (n_docs / n_buckets), so DuckDB can replay it with a
# recursive CTE walking each bucket row-by-row — every bucket advances
# in the same recursion step, so depth = max docs per bucket, not
# corpus size. That makes even the stateful packer fully
# oracle-checkable.

def _q_pack(spark, sf_dir: str) -> DataFrame:
    from logsqlite_spark.tables import table

    return pack_sequences(table(spark, sf_dir, "documents"), budget=256)

def _q_pack_stats(spark, sf_dir: str) -> DataFrame:
    from logsqlite_spark.tables import table

    return pack_stats(
        pack_sequences(table(spark, sf_dir, "documents"), budget=256),
        budget=256)

def _q_pack_emit(spark, sf_dir: str) -> DataFrame:
    from logsqlite_spark.tables import table

    return emit_packed(table(spark, sf_dir, "documents"), budget=256)

QUERIES = {
    "pack_sequences": _q_pack,
    "pack_stats": _q_pack_stats,
    "pack_emit": _q_pack_emit,
}

def _pack_walk_sql(budget: int = 256,
                   n_buckets: int = N_PACK_BUCKETS) -> str:
    """Recursive-CTE twin of the greedy fill in :func:`pack_sequences`.

    State after each row is (pack, fill); the emitted columns mirror
    the Python loop's three cases (oversized / overflow / fit)."""
    b = budget
    return (
        "WITH RECURSIVE prepped AS (SELECT doc_id, "
        "  CAST(CAST(concat('0x', substr(md5(concat('" + PACK_SALT + ":', "
        f"  CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % {n_buckets} AS INT) AS bucket, "
        "  CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS INT) AS tc "
        "  FROM documents), "
        "docs AS (SELECT *, row_number() OVER (PARTITION BY bucket ORDER BY doc_id) AS rn "
        "  FROM prepped), "
        "walk AS ( "
        "  SELECT bucket, rn, doc_id, tc, "
        f"    0 AS pack, 0 AS off, tc > {b} AS trunc, "
        f"    CASE WHEN tc > {b} THEN 1 ELSE 0 END AS st_pack, "
        f"    CASE WHEN tc > {b} THEN 0 ELSE tc END AS st_fill "
        "  FROM docs WHERE rn = 1 "
        "  UNION ALL "
        "  SELECT d.bucket, d.rn, d.doc_id, d.tc, "
        f"    CASE WHEN d.tc > {b} THEN w.st_pack + CASE WHEN w.st_fill > 0 THEN 1 ELSE 0 END "
        f"         WHEN w.st_fill + d.tc > {b} THEN w.st_pack + 1 "
        "         ELSE w.st_pack END AS pack, "
        f"    CASE WHEN d.tc > {b} OR w.st_fill + d.tc > {b} THEN 0 "
        "         ELSE w.st_fill END AS off, "
        f"    d.tc > {b} AS trunc, "
        f"    CASE WHEN d.tc > {b} THEN w.st_pack + CASE WHEN w.st_fill > 0 THEN 1 ELSE 0 END + 1 "
        f"         WHEN w.st_fill + d.tc > {b} THEN w.st_pack + 1 "
        "         ELSE w.st_pack END AS st_pack, "
        f"    CASE WHEN d.tc > {b} THEN 0 "
        f"         WHEN w.st_fill + d.tc > {b} THEN d.tc "
        "         ELSE w.st_fill + d.tc END AS st_fill "
        "  FROM walk w JOIN docs d ON d.bucket = w.bucket AND d.rn = w.rn + 1), "
        "packed AS (SELECT doc_id, bucket, "
        "  CAST(bucket AS BIGINT) * (CAST(1 AS BIGINT) << 40) + pack AS pack_id, "
        "  CAST(off AS INT) AS \"offset\", tc AS token_count, trunc AS truncated "
        "  FROM walk)"
    )

ORACLES: dict[str, str] = {
    "pack_sequences": (
        _pack_walk_sql() + " SELECT doc_id, bucket, pack_id, \"offset\", "
        "token_count, truncated FROM packed"
    ),
    "pack_stats": (
        _pack_walk_sql() + ", per_pack AS (SELECT bucket, pack_id, "
        "  sum(token_count) AS fill FROM packed GROUP BY bucket, pack_id) "
        "SELECT bucket, count(*) AS n_packs, CAST(sum(fill) AS BIGINT) AS sum_tokens, "
        "round(avg(CAST(fill AS DOUBLE) / 256), 6) AS avg_fill_rate "
        "FROM per_pack GROUP BY bucket"
    ),
    "pack_emit": (
        _pack_walk_sql()
        + " SELECT pack_id, CAST(count(*) AS INT) AS n_docs, "
        "CAST(sum(token_count) AS BIGINT) AS fill, "
        "md5(string_agg(text, ' ' ORDER BY \"offset\", packed.doc_id)) "
        "  AS text_md5, "
        "CAST(length(string_agg(text, ' ' ORDER BY \"offset\", packed.doc_id)) "
        "  AS BIGINT) AS text_len "
        "FROM packed JOIN documents ON packed.doc_id = documents.doc_id "
        "GROUP BY pack_id"
    ),
}
