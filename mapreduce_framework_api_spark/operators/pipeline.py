"""Corpus-management operators for a training-data pipeline.

The reference's map/reduce surface (``mapreduce.h:48-56``) can express any
of these as app-defined callbacks over kvpairs; here each one is a
declarative DataFrame plan so Catalyst keeps the scan pruned and the
shuffles keyed correctly. They complement the dedup/similarity/text
families with the bookkeeping every large corpus build needs: reproducible
sampling, split assignment, per-source quotas, canonical-copy election and
size profiling.

Scale notes (100 TB):
- All sampling/splitting is HASH-based (md5 of a stable key), never RNG:
  rerunning any subset of the data reproduces the same decision per row,
  which is what makes incremental rebuilds and cross-engine checks possible.
  The filter is evaluated row-local — no shuffle at all for q_pipe_sample.
- Quota capping and keep-first dedup shuffle once on their group key; both
  aggregate BEFORE any join, so the exchanged rows are group-sized, not
  corpus-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from mapreduce_framework_api_spark.registry import register
from mapreduce_framework_api_spark.sources import parallelized, table


def _md5_of(col) -> "F.Column":
    """Lowercase hex md5 of a column's string form — identical bytes in
    Spark (md5(binary)) and DuckDB (md5(varchar)), so hash-derived
    decisions agree across engines."""
    return F.md5(F.col(col).cast("string").cast("binary"))


@register(
    "q_pipe_sample_hash",
    group="I",
    oracle="""
SELECT doc_id, lang, source
FROM documents
WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '20'
ORDER BY doc_id
""",
)
def q_pipe_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~12.5% corpus sample: keep rows whose md5(doc_id) hex
    prefix falls below '20' (2/16 of the keyspace). Row-local filter — no
    shuffle, no RNG, reproducible on any engine and any subset of the data
    (the property that makes sampled pipelines rerunnable at 100 TB)."""
    d = table(spark, sf_dir, "documents")
    return (
        d.filter(F.substring(_md5_of("doc_id"), 1, 2) < "20")
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    )


def split_column():
    """The train/val/test assignment expression (75/12.5/12.5 by md5 first
    hex digit of doc_id). ONE definition shared by q_pipe_split_assign and
    the q_pipe_split_leakage audit — if the thresholds ever change, the
    leakage audit must follow automatically or it silently audits the OLD
    split (the _hash_split drift lesson from similarity.py). The oracle
    SQL necessarily repeats the thresholds as text; this helper is the
    single Python source."""
    h1 = F.substring(_md5_of("doc_id"), 1, 1)
    return (
        F.when(h1 < "c", F.lit("train"))
        .when(h1 < "e", F.lit("val"))
        .otherwise(F.lit("test"))
    )


@register(
    "q_pipe_split_assign",
    group="I",
    oracle="""
WITH a AS (
  SELECT lang,
         CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c' THEN 'train'
              WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'e' THEN 'val'
              ELSE 'test' END AS split
  FROM documents
)
SELECT lang, split, COUNT(*) AS n_docs
FROM a GROUP BY lang, split
ORDER BY lang, split
""",
)
def q_pipe_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-based train/val/test assignment (75/12.5/12.5 by md5 first hex
    digit) with per-language counts. The split decision is a pure function
    of doc_id — adding data never reshuffles existing rows between splits,
    unlike fraction-based sample() which changes membership per run."""
    d = table(spark, sf_dir, "documents")
    split = split_column()
    return (
        d.select("lang", split.alias("split"))
        .groupBy("lang", "split")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("lang", "split")
    )


@register(
    "q_pipe_quota_cap",
    group="I",
    oracle="""
WITH ranked AS (
  SELECT doc_id, lang, source, n_chars,
         ROW_NUMBER() OVER (PARTITION BY lang, source
                            ORDER BY n_chars DESC, doc_id ASC) AS rn
  FROM documents
)
SELECT doc_id, lang, source, n_chars, rn
FROM ranked WHERE rn <= 3
ORDER BY lang, source, rn
""",
)
def q_pipe_quota_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(lang, source) quota: keep the 3 largest documents per bucket
    (ties by doc_id). One shuffle on the quota key; at 100 TB the same
    window runs per-bucket with no global sort — the standard way to stop a
    single crawl source from dominating a mixed corpus."""
    d = table(spark, sf_dir, "documents")
    w = W.partitionBy("lang", "source").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        d.select("doc_id", "lang", "source", "n_chars")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .orderBy("lang", "source", "rn")
    )


@register(
    "q_pipe_keep_first",
    group="I",
    oracle="""
SELECT md5(text) AS content_hash,
       MIN(doc_id) AS keep_doc_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY md5(text)
ORDER BY keep_doc_id
""",
)
def q_pipe_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-copy election: group by content hash, keep the lowest
    doc_id per group, report the multiplicity (the keep-first exact-dedup
    decision for every document, duplicate or not). The shuffle key is the
    32-char hash, not the document — at 100 TB the exchange carries hashes
    + ids, never text."""
    d = table(spark, sf_dir, "documents")
    return (
        d.select(F.md5(F.col("text").cast("binary")).alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies"))
        .orderBy("keep_doc_id")
    )


@register(
    "q_agg_percentile",
    group="D",
    oracle="""
SELECT l_returnflag,
       ROUND(quantile_cont(l_quantity, 0.25), 2) AS q25,
       ROUND(quantile_cont(l_quantity, 0.50), 2) AS q50,
       ROUND(quantile_cont(l_quantity, 0.75), 2) AS q75,
       ROUND(quantile_cont(l_extendedprice, 0.95), 2) AS p95_price
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def q_agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolation percentiles per return flag. Spark's
    `percentile` and DuckDB's `quantile_cont` share the continuous
    definition, so values hash-match after rounding. The approximate
    variant for 100 TB is `percentile_approx` (t-digest sketch, mergeable
    map-side) — used in q_multimodal_stats; this is the exact tier."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.expr("percentile(l_quantity, 0.25)"), 2).alias("q25"),
            F.round(F.expr("percentile(l_quantity, 0.50)"), 2).alias("q50"),
            F.round(F.expr("percentile(l_quantity, 0.75)"), 2).alias("q75"),
            F.round(F.expr("percentile(l_extendedprice, 0.95)"), 2).alias("p95_price"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "q_pipe_length_hist",
    group="I",
    oracle="""
WITH t AS (
  SELECT len(list_filter(regexp_split_to_array(text, '[^A-Za-z0-9]+'), x -> x <> ''))
           AS n_tokens
  FROM documents
)
SELECT CAST(FLOOR(n_tokens / 10) * 10 AS BIGINT) AS bucket_lo,
       COUNT(*) AS n_docs,
       CAST(MIN(n_tokens) AS BIGINT) AS min_tokens,
       CAST(MAX(n_tokens) AS BIGINT) AS max_tokens
FROM t GROUP BY 1 ORDER BY bucket_lo
""",
)
def q_pipe_length_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-length histogram (bucket width 10): the size profile every
    curriculum/packing decision starts from. Token counting is the same
    JVM-side split used by the wordcount family; one tiny shuffle on the
    bucket id."""
    from mapreduce_framework_api_spark.functions.textfns import tokens_nonempty

    d = table(spark, sf_dir, "documents")
    n_tokens = F.size(tokens_nonempty("text"))
    return (
        d.select(n_tokens.alias("n_tokens"))
        .groupBy((F.floor(F.col("n_tokens") / 10) * 10).alias("bucket_lo"))
        .agg(
            F.count("*").alias("n_docs"),
            F.min("n_tokens").cast("long").alias("min_tokens"),
            F.max("n_tokens").cast("long").alias("max_tokens"),
        )
        .orderBy("bucket_lo")
    )


# PII scrub patterns: one regex dialect subset that Java (Spark) and RE2
# (DuckDB) interpret identically — character classes, bounded/unbounded
# greedy quantifiers, no alternation, no backreferences, no lookaround.
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"\+?[0-9][0-9()\- ]{7,}[0-9]"


@register(
    "q_pipe_pii_scrub",
    group="I",
    oracle=f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{_PII_EMAIL}')) AS INTEGER) AS n_emails,
       CAST(len(regexp_extract_all(text, '{_PII_PHONE}')) AS INTEGER) AS n_phones,
       md5(regexp_replace(regexp_replace(text, '{_PII_EMAIL}', '<EMAIL>', 'g'),
                          '{_PII_PHONE}', '<PHONE>', 'g')) AS scrubbed_md5
FROM documents
ORDER BY doc_id
""",
)
def q_pipe_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass: count and replace email / phone-shaped spans
    per document (emails first, then phones over the already-scrubbed
    text — the order is part of the contract and mirrored in the oracle).
    Emits match counts plus the md5 of the scrubbed text, so the
    differential check proves both engines' regex engines made IDENTICAL
    replacements byte-for-byte — not just equal counts.

    Scale shape: pure row-local JVM regex inside whole-stage codegen — no
    shuffle, no UDF; the scan reads only (doc_id, text). The real corpus
    would persist the scrubbed text itself; the fixture check carries its
    md5 to keep result rows narrow."""
    d = table(spark, sf_dir, "documents")
    scrubbed = F.regexp_replace(
        F.regexp_replace("text", _PII_EMAIL, "<EMAIL>"), _PII_PHONE, "<PHONE>"
    )
    return d.select(
        "doc_id",
        F.regexp_count("text", F.lit(_PII_EMAIL)).cast("int").alias("n_emails"),
        F.regexp_count("text", F.lit(_PII_PHONE)).cast("int").alias("n_phones"),
        F.md5(scrubbed.cast("binary")).alias("scrubbed_md5"),
    ).orderBy("doc_id")


# Target mixture: per-language permille shares of the output corpus.
_MIX_PERMILLE = {"en": 400, "de": 150, "es": 150, "fr": 150, "zh": 150}
_MIX_U_BITS = 16  # md5-derived uniform: first 4 hex chars in [0, 65536)


@register(
    "q_pipe_mixture",
    group="I",
    oracle=f"""
WITH w AS (
  SELECT * FROM (VALUES {", ".join(f"('{k}', {v})" for k, v in sorted(_MIX_PERMILLE.items()))})
         AS t(lang, permille)
), stats AS (
  SELECT lang, COUNT(*) AS n_lang FROM documents GROUP BY lang
), tot AS (
  SELECT COUNT(*) AS n_total FROM documents
)
SELECT d.doc_id, d.lang
FROM documents d
JOIN stats s ON d.lang = s.lang
JOIN w ON d.lang = w.lang
CROSS JOIN tot
WHERE CAST(('0x' || substr(md5('mix#' || CAST(d.doc_id AS VARCHAR)), 1, 4)) AS BIGINT)
      * s.n_lang * 1000
      < w.permille * tot.n_total * {1 << _MIX_U_BITS}
ORDER BY d.doc_id
""",
)
def q_pipe_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mixture resampling: thin each language to a target
    share of the corpus (en 40%, the rest 15% each). Per-language keep
    rate = min(1, target_share·N/n_lang), applied as a pure integer
    comparison — u16·n_lang·1000 < permille·N·2^16 with u16 the first 16
    md5 bits of the doc id — so membership is exact on both engines and,
    like all hash sampling here, stable under reruns and data growth.

    Plan shape: the per-language counts and the grand total are
    broadcast-sized BY CONSTRUCTION (languages are a bounded set; the
    totals are one row per language), so the only per-row work is a
    row-local hash filter — no corpus shuffle at any size. The grand
    total is a WINDOW SUM over the (bounded, post-aggregate) stats frame,
    not a second corpus aggregate: a separate total branch would give the
    documents scan a third parent and Catalyst would run the full scan +
    count again (the whole-frame window touches one row per language).
    At extreme corpus sizes (N ≳ 10^12) promote the comparison to DECIMAL
    to keep the products inside 64 bits."""
    d = table(spark, sf_dir, "documents").select("doc_id", "lang")
    stats = (
        d.groupBy("lang")
        .agg(F.count("*").alias("n_lang"))
        .withColumn("n_total", F.sum("n_lang").over(W.partitionBy()))
    )
    weights = F.create_map(
        *[F.lit(x) for kv in sorted(_MIX_PERMILLE.items()) for x in kv]
    )
    u16 = F.conv(
        F.substring(F.md5(F.concat(F.lit("mix#"), F.col("doc_id").cast("string")).cast("binary")), 1, 4),
        16,
        10,
    ).cast("long")
    return (
        d.join(F.broadcast(stats), "lang")
        .withColumn("permille", weights[F.col("lang")])
        .filter(
            u16 * F.col("n_lang") * 1000
            < F.col("permille") * F.col("n_total") * (1 << _MIX_U_BITS)
        )
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


_PACK_BUDGET = 256  # tokens per training chunk
_PACK_BLOCK = 200  # docs per scan block (tune to partition size at scale)


@register(
    "q_pipe_pack_chunks",
    group="I",
    oracle=f"""
WITH t AS (
  SELECT doc_id,
         len(list_filter(regexp_split_to_array(text, '[^A-Za-z0-9]+'), x -> x <> ''))
           AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         -- DuckDB's windowed SUM(BIGINT) yields HUGEINT; cast back so the
         -- driver's type-aware hash sees int64 on both engines.
         CAST(SUM(CAST(n_tokens AS BIGINT)) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
              AS BIGINT) AS pos
  FROM t
)
SELECT doc_id, n_tokens, pos,
       CAST(pos // {_PACK_BUDGET} AS BIGINT) AS chunk_id
FROM c ORDER BY doc_id
""",
)
def q_pipe_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (the concat-and-split step of LLM training prep):
    documents are laid out in doc_id order into one token stream and cut
    into fixed 256-token (_PACK_BUDGET) chunks; each doc reports its stream
    position and chunk id.

    The global prefix sum is computed as a DISTRIBUTED two-level scan —
    the oracle's single ``SUM() OVER (ORDER BY ...)`` is a one-partition
    sort at scale, which is exactly what this plan avoids: (1) within
    each doc_id block, a per-block running sum (parallel windows over
    block partitions); (2) block totals are prefix-summed in a second
    window over ONE ROW PER BLOCK (thousands of rows at 100 TB, not
    trillions) and broadcast back as offsets. All integer arithmetic, so
    the distributed scan is bit-identical to the sequential one."""
    from mapreduce_framework_api_spark.functions.textfns import tokens_nonempty

    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(tokens_nonempty("text")).cast("long").alias("n_tokens"),
        (F.col("doc_id") / _PACK_BLOCK).cast("long").alias("blk"),
    )
    in_blk = W.partitionBy("blk").orderBy("doc_id").rowsBetween(W.unboundedPreceding, W.currentRow)
    local = d.withColumn("cum_in_blk", F.sum("n_tokens").over(in_blk))
    blk_tot = local.groupBy("blk").agg(F.max("cum_in_blk").alias("blk_sum"))
    over_blks = W.orderBy("blk").rowsBetween(W.unboundedPreceding, W.currentRow)
    offsets = blk_tot.withColumn(
        "blk_offset", F.sum("blk_sum").over(over_blks) - F.col("blk_sum")
    ).select("blk", "blk_offset")
    return (
        local.join(F.broadcast(offsets), "blk")
        .select(
            "doc_id",
            "n_tokens",
            (F.col("blk_offset") + F.col("cum_in_blk") - F.col("n_tokens")).alias("pos"),
            (
                (F.col("blk_offset") + F.col("cum_in_blk") - F.col("n_tokens"))
                / _PACK_BUDGET
            )
            .cast("long")
            .alias("chunk_id"),
        )
        .orderBy("doc_id")
    )


_CHUNK_SIZE = 128  # tokens per training chunk (overlapping variant)
_CHUNK_STRIDE = 96  # start-to-start distance; overlap = size - stride


@register(
    "q_pipe_chunk_overlap",
    group="I",
    oracle=f"""
WITH t AS (
  SELECT doc_id,
         len(list_filter(regexp_split_to_array(text, '[^A-Za-z0-9]+'), x -> x <> ''))
           AS n_tokens
  FROM documents
), k AS (
  SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         CASE WHEN n_tokens <= {_CHUNK_SIZE} THEN 1
              ELSE 1 + (n_tokens - {_CHUNK_SIZE} + {_CHUNK_STRIDE} - 1) // {_CHUNK_STRIDE}
         END AS n_chunks
  FROM t WHERE n_tokens > 0
), c AS (
  SELECT doc_id, n_tokens, unnest(range(0, n_chunks)) AS chunk_idx FROM k
)
SELECT doc_id,
       CAST(chunk_idx AS BIGINT) AS chunk_idx,
       CAST(chunk_idx * {_CHUNK_STRIDE} AS BIGINT) AS start_tok,
       CAST(LEAST(chunk_idx * {_CHUNK_STRIDE} + {_CHUNK_SIZE}, n_tokens) AS BIGINT) AS end_tok
FROM c ORDER BY doc_id, chunk_idx
""",
)
def q_pipe_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking with overlap (the RAG/long-context variant of
    sequence packing): each document is cut into {size}-token chunks whose
    starts advance by {stride} tokens, so consecutive chunks share
    size - stride tokens; the last chunk is clipped to the document end and
    chunk starts never run past it.

    Plan shape: pure MAP — token count, chunk count, and the
    sequence-explode are all row-local expressions; zero shuffles at any
    corpus size (the one exchange in the plan is the presentation-only
    global sort, which a production writer drops). Chunk count is integer
    arithmetic (ceil via (n - size + stride - 1) DIV stride), bit-identical
    across engines. Empty documents produce no chunks."""
    from mapreduce_framework_api_spark.functions.textfns import tokens_nonempty

    size, stride = _CHUNK_SIZE, _CHUNK_STRIDE
    d = (
        table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.size(tokens_nonempty("text")).cast("long").alias("n_tokens"),
        )
        .filter(F.col("n_tokens") > 0)
        .withColumn(
            "n_chunks",
            F.when(F.col("n_tokens") <= size, F.lit(1)).otherwise(
                F.lit(1) + F.expr(f"(n_tokens - {size} + {stride} - 1) DIV {stride}")
            ),
        )
    )
    return (
        d.select(
            "doc_id",
            "n_tokens",
            F.explode(F.sequence(F.lit(0), (F.col("n_chunks") - 1).cast("int"))).alias("ci"),
        )
        .select(
            "doc_id",
            F.col("ci").cast("long").alias("chunk_idx"),
            (F.col("ci") * stride).cast("long").alias("start_tok"),
            F.least(F.col("ci") * stride + size, F.col("n_tokens"))
            .cast("long")
            .alias("end_tok"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


# Per-language epoch multipliers: upsample low-resource languages. A real
# run derives these from the mixture solver; fixed literals keep the
# oracle exact.
_EPOCH_WEIGHTS = {"en": 1, "de": 2, "es": 2, "fr": 3, "zh": 3}


@register(
    "q_pipe_upsample_epochs",
    group="I",
    oracle=f"""
WITH w AS (
  SELECT * FROM (VALUES {", ".join(f"('{k}', {v})" for k, v in sorted(_EPOCH_WEIGHTS.items()))})
         AS t(lang, epochs)
), r AS (
  SELECT d.doc_id, d.lang, unnest(range(0, w.epochs)) AS epoch
  FROM documents d JOIN w USING (lang)
)
SELECT doc_id, lang, CAST(epoch AS BIGINT) AS epoch
FROM r ORDER BY doc_id, epoch
""",
)
def q_pipe_upsample_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-weighted corpus replication (the standard low-resource
    upsampling step before training): each document appears ``epochs(lang)``
    times, tagged with its epoch index, so the downstream shuffle-order
    pass interleaves repeats instead of clustering them.

    Plan shape: pure MAP — the weight table is a broadcast-sized literal
    map and the replication is a row-local sequence-explode; zero data
    shuffles at any corpus size. Output volume is sum(epochs(lang) * n_lang)
    rows, the pipeline's intended amplification."""
    weights = F.create_map(
        *[F.lit(x) for kv in sorted(_EPOCH_WEIGHTS.items()) for x in kv]
    )
    d = table(spark, sf_dir, "documents").select("doc_id", "lang")
    return (
        d.withColumn("epochs", weights[F.col("lang")])
        .filter(F.col("epochs").isNotNull())
        .select(
            "doc_id",
            "lang",
            F.explode(F.sequence(F.lit(0), F.col("epochs") - 1)).alias("epoch"),
        )
        .withColumn("epoch", F.col("epoch").cast("long"))
        .orderBy("doc_id", "epoch")
    )


_SHUFFLE_SHARDS = 32  # fixture-scale; production sets corpus_rows / shard_rows
_SHUFFLE_SEED = "ep0"


@register(
    "q_pipe_shuffle_order",
    group="I",
    oracle=f"""
WITH h AS (
  SELECT doc_id, md5('shuf:{_SHUFFLE_SEED}#' || CAST(doc_id AS VARCHAR)) AS hx
  FROM documents
), s AS (
  SELECT doc_id, hx,
         CAST(('0x' || substr(hx, 1, 4)) AS BIGINT) % {_SHUFFLE_SHARDS} AS shard
  FROM h
)
SELECT doc_id, shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY hx, doc_id) AS BIGINT) AS pos
FROM s ORDER BY shard, pos
""",
)
def q_pipe_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle: every document gets a
    (shard, position) address from a seeded md5 — the materialized random
    permutation a data loader consumes, reproducible on any engine and any
    re-run (same seed ⇒ same order; bump the seed per epoch).

    Plan shape: ONE hash exchange on shard, then shard-parallel
    ROW_NUMBER windows — there is no global sort anywhere. The per-shard
    window is the unavoidable cost of materializing positions; it stays
    bounded because production sets shards ≈ corpus_rows / shard_rows
    (this registration pins _SHUFFLE_SHARDS = 32 so the oracle is exact at
    fixture scale). The md5 sort key inside each shard is what makes the
    order pseudo-random rather than id-ordered."""
    d = table(spark, sf_dir, "documents").select("doc_id")
    hx = F.md5(
        F.concat(F.lit(f"shuf:{_SHUFFLE_SEED}#"), F.col("doc_id").cast("string")).cast(
            "binary"
        )
    )
    s = d.select(
        "doc_id",
        hx.alias("hx"),
        F.pmod(F.conv(F.substring(hx, 1, 4), 16, 10).cast("long"), _SHUFFLE_SHARDS).alias(
            "shard"
        ),
    )
    w = W.partitionBy("shard").orderBy("hx", "doc_id")
    return (
        s.select(
            "doc_id",
            "shard",
            F.row_number().over(w).cast("long").alias("pos"),
        )
        .orderBy("shard", "pos")
    )


_BUDGET_TOKENS = 25_000  # per-language token budget
_BUDGET_BLOCKS = 256  # hash-prefix blocks per language for the two-level scan


@register(
    "q_pipe_token_budget",
    group="I",
    oracle=f"""
WITH t AS (
  SELECT doc_id, lang,
         CAST(len(list_filter(regexp_split_to_array(text, '[^A-Za-z0-9]+'), x -> x <> ''))
              AS BIGINT) AS n_tokens,
         md5('budget#' || CAST(doc_id AS VARCHAR)) AS h
  FROM documents
  WHERE text IS NOT NULL  -- null docs carry no tokens; engines disagree
                          -- on NULL window arithmetic, so they are out
                          -- of the budget fill on both sides
), c AS (
  SELECT doc_id, lang, n_tokens,
         CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY h, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
  FROM t
)
SELECT doc_id, lang, n_tokens, cum_tokens
FROM c WHERE cum_tokens <= {_BUDGET_TOKENS}
ORDER BY lang, cum_tokens
""",
)
def q_pipe_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language token-budget fill: take documents in seeded-hash order
    (a reproducible random order — same seed, same corpus subset on any
    engine or rerun) until each language's cumulative token count reaches
    the budget — "give me 25k tokens of each language", the
    fixed-token-count sampling step of a mixture build.

    The per-language prefix sum is a TWO-LEVEL distributed scan — the
    q_pipe_pack_chunks pattern generalized per group: the md5 hex prefix
    splits each language's hash order into _BUDGET_BLOCKS (256) contiguous
    blocks, (1) parallel windows compute running sums within (lang,
    block), (2) block totals are prefix-summed over ONE ROW PER (lang,
    block) — bounded by languages × _BUDGET_BLOCKS, never corpus rows —
    and broadcast back as offsets. The oracle's flat per-language window
    is the single-partition sort this plan avoids: at 100 TB the dominant
    language IS most of the corpus, so a per-lang window without the
    block level would funnel it through one task. Integer arithmetic
    throughout, so the two scans agree bit-for-bit."""
    from mapreduce_framework_api_spark.functions.textfns import tokens_nonempty

    h = F.md5(F.concat(F.lit("budget#"), F.col("doc_id").cast("string")).cast("binary"))
    d = (
        table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())  # see the oracle's t CTE note
        .select(
            "doc_id",
            "lang",
            F.size(tokens_nonempty("text")).cast("long").alias("n_tokens"),
            h.alias("h"),
        )
    )
    # hex prefix = block id; blocks sort identically to h itself, so
    # (blk, h) order within a language equals plain h order.
    d = d.withColumn(
        "blk", F.conv(F.substring("h", 1, 2), 16, 10).cast("int")
    )
    in_blk = (
        W.partitionBy("lang", "blk")
        .orderBy("h", "doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    local = d.withColumn("cum_in_blk", F.sum("n_tokens").over(in_blk))
    blk_tot = local.groupBy("lang", "blk").agg(F.max("cum_in_blk").alias("blk_sum"))
    over_blks = (
        W.partitionBy("lang").orderBy("blk").rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    offsets = blk_tot.withColumn(
        "blk_offset", F.sum("blk_sum").over(over_blks) - F.col("blk_sum")
    ).select("lang", "blk", "blk_offset")
    return (
        local.join(F.broadcast(offsets), ["lang", "blk"])
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            (F.col("blk_offset") + F.col("cum_in_blk")).alias("cum_tokens"),
        )
        .filter(F.col("cum_tokens") <= _BUDGET_TOKENS)
        .orderBy("lang", "cum_tokens")
    )


# Cascade thresholds, integer-scaled so every stage test is pure-integer
# cross-multiplication (no FP comparison can drift across engines):
#   stage 1: n_tokens <  20              (too short to train on)
#   stage 2: alpha_chars/chars  < 0.815  -> alpha*1000 < 815*chars
#   stage 3: unique_toks/tokens < 0.35   -> uniq*100   < 35*tokens
_CASCADE_MIN_TOKENS = 20
_CASCADE_ALPHA_PERMILLE = 815
_CASCADE_UNIQ_PCT = 35


@register(
    "q_pipe_filter_cascade",
    group="I",
    oracle=f"""
WITH m AS (
  SELECT doc_id,
         length(text) AS n_chars,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
         len(list_filter(regexp_split_to_array(text, '[^A-Za-z0-9]+'),
             t -> t <> '')) AS n_toks,
         len(list_distinct(list_filter(regexp_split_to_array(text, '[^A-Za-z0-9]+'),
             t -> t <> ''))) AS n_uniq
  FROM documents
), verdict AS (
  SELECT CASE
           WHEN n_toks < {_CASCADE_MIN_TOKENS} THEN 1
           WHEN n_alpha * 1000 < {_CASCADE_ALPHA_PERMILLE} * n_chars THEN 2
           WHEN n_uniq * 100 < {_CASCADE_UNIQ_PCT} * n_toks THEN 3
           ELSE 4
         END AS stage_no
  FROM m
)
SELECT stage_no,
       CASE stage_no WHEN 1 THEN 'too_short' WHEN 2 THEN 'low_alpha'
                     WHEN 3 THEN 'repetitive' ELSE 'pass' END AS stage,
       COUNT(*) AS n_docs
FROM verdict
GROUP BY stage_no
ORDER BY stage_no
""",
)
def q_pipe_filter_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter cascade accounting: every document is charged to the
    FIRST stage that rejects it (cheapest predicate first — the standard
    corpus-cleaning funnel report: how many docs each rule removes, and
    how many survive the whole cascade).

    Engine-exactness: every stage test is integer cross-multiplication
    (alpha*1000 < 815*chars instead of a double ratio), so no FP
    comparison exists anywhere in the verdict.

    Plan shape — the 100 TB funnel report: per-doc metrics are row-local
    JVM expressions fused into the scan (one pass over text, no UDF), the
    verdict is a CASE over those metrics, and the only exchange moves
    <= 4 partial-agg rows per task. A naive implementation filters the
    corpus once PER STAGE (k scans) or materializes per-stage frames;
    first-fail attribution in one pass is both cheaper and the number a
    data-quality dashboard actually wants (stage counts sum to the corpus
    row count by construction)."""
    docs = table(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", "[^A-Za-z0-9]+"), lambda t: t != F.lit(""))
    m = docs.select(
        F.length("text").alias("n_chars"),
        F.length(F.regexp_replace("text", "[^A-Za-z]", "")).alias("n_alpha"),
        F.size(toks).alias("n_toks"),
        F.size(F.array_distinct(toks)).alias("n_uniq"),
    )
    stage_no = (
        F.when(F.col("n_toks") < _CASCADE_MIN_TOKENS, F.lit(1))
        .when(F.col("n_alpha") * 1000 < _CASCADE_ALPHA_PERMILLE * F.col("n_chars"), F.lit(2))
        .when(F.col("n_uniq") * 100 < _CASCADE_UNIQ_PCT * F.col("n_toks"), F.lit(3))
        .otherwise(F.lit(4))
    )
    stage_name = (
        F.when(F.col("stage_no") == 1, F.lit("too_short"))
        .when(F.col("stage_no") == 2, F.lit("low_alpha"))
        .when(F.col("stage_no") == 3, F.lit("repetitive"))
        .otherwise(F.lit("pass"))
    )
    return (
        m.select(stage_no.alias("stage_no"))
        .groupBy("stage_no")
        .agg(F.count("*").alias("n_docs"))
        .select("stage_no", stage_name.alias("stage"), "n_docs")
        .orderBy("stage_no")
    )


@register(
    "q_pipe_end_to_end",
    group="I",
    oracle=f"""
WITH m AS (
  SELECT doc_id, lang, text,
         length(text) AS n_chars,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
         CAST(len(list_filter(regexp_split_to_array(text, '[^A-Za-z0-9]+'),
             t -> t <> '')) AS BIGINT) AS n_toks,
         len(list_distinct(list_filter(regexp_split_to_array(text, '[^A-Za-z0-9]+'),
             t -> t <> ''))) AS n_uniq
  FROM documents
  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '80'
), q AS (
  SELECT doc_id, lang, n_toks, md5(text) AS h
  FROM m
  WHERE n_toks >= {_CASCADE_MIN_TOKENS}
    AND n_alpha * 1000 >= {_CASCADE_ALPHA_PERMILLE} * n_chars
    AND n_uniq * 100 >= {_CASCADE_UNIQ_PCT} * n_toks
), c AS (
  SELECT doc_id, lang, n_toks,
         ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id) AS rn
  FROM q
), train AS (
  SELECT doc_id, lang, n_toks FROM c
  WHERE rn = 1 AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c'
)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
       MIN(doc_id) AS min_doc_id,
       MAX(doc_id) AS max_doc_id
FROM train
GROUP BY lang
ORDER BY lang
""",
)
def q_pipe_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole corpus-prep pipeline as ONE declarative plan — the
    engine's actual use case, composed from the primitives the individual
    queries prove: 50% hash sample -> quality-cascade pass (the
    q_pipe_filter_cascade predicates) -> keep-first exact dedup (before
    the split, so exact duplicates can never leak across train/val) ->
    hash train-split -> per-language accounting of the final training
    set.

    Engine-exactness: every decision is an md5 hex comparison or an
    integer cross-multiplication; outputs are integer counts and id
    picks.

    Plan shape: the three hash/quality/metric gates are ROW-LOCAL and
    fused into the scan, so at 100 TB the single exchange of the whole
    pipeline is the content-hash dedup shuffle — carrying only
    already-thinned (hash, id, lang, n_toks) rows, never text — followed
    by a WindowGroupLimit top-1, the row-local split gate, and a
    languages-sized aggregate. Catalyst composes the steps into one pass
    end-to-end: this is why declaring the pipeline beats materializing
    each stage (k scans, k intermediate datasets). The scan is
    ``parallelized`` because the fused gate expressions (tokenize +
    regexp + distinct per doc) are the dominant compute — the sf1 receipt
    caught them serialized onto 2 tasks (9 s) behind one unsplittable
    parquet file; with real multi-split sources the gate passes through
    untouched and the fusion stays shuffle-free."""
    d = table(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", "[^A-Za-z0-9]+"), lambda t: t != F.lit(""))
    # widen AFTER the row-cheap hash-sample gate: only the surviving half
    # of the text ever crosses the (locally-gated) exchange
    m = parallelized(
        d.filter(F.substring(_md5_of("doc_id"), 1, 2) < "80")
    ).select(
        "doc_id",
        "lang",
        "text",
        F.length("text").alias("n_chars"),
        F.length(F.regexp_replace("text", "[^A-Za-z]", "")).alias("n_alpha"),
        F.size(toks).cast("long").alias("n_toks"),
        F.size(F.array_distinct(toks)).alias("n_uniq"),
    )
    q = m.filter(
        (F.col("n_toks") >= _CASCADE_MIN_TOKENS)
        & (F.col("n_alpha") * 1000 >= _CASCADE_ALPHA_PERMILLE * F.col("n_chars"))
        & (F.col("n_uniq") * 100 >= _CASCADE_UNIQ_PCT * F.col("n_toks"))
    ).select("doc_id", "lang", "n_toks", F.md5(F.col("text").cast("binary")).alias("h"))
    w = W.partitionBy("h").orderBy("doc_id")
    train = (
        q.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.substring(_md5_of("doc_id"), 1, 1) < "c"))
    )
    return (
        train.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_toks").cast("long").alias("n_tokens"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .orderBy("lang")
    )


@register(
    "q_pipe_dataset_card",
    group="I",
    oracle="""
WITH wide AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len(list_filter(regexp_split_to_array(text, '[^A-Za-z0-9]+'),
             t -> t <> ''))) AS BIGINT) AS n_tokens,
         CAST(SUM(length(text)) AS BIGINT) AS n_chars,
         CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
         CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
         CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_distinct_texts,
         CAST(MIN(len(list_filter(regexp_split_to_array(text, '[^A-Za-z0-9]+'),
             t -> t <> ''))) AS BIGINT) AS min_tokens,
         CAST(MAX(len(list_filter(regexp_split_to_array(text, '[^A-Za-z0-9]+'),
             t -> t <> ''))) AS BIGINT) AS max_tokens
  FROM documents
)
SELECT metric, value
FROM wide
UNPIVOT (value FOR metric IN (n_docs, n_tokens, n_chars, n_langs,
                              n_sources, n_distinct_texts, min_tokens,
                              max_tokens))
ORDER BY metric
""",
)
def q_pipe_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset card (datasheet) summary block: corpus size, token and
    character volume, language/source diversity, exact-dup headroom
    (n_docs - n_distinct_texts duplicates), and the token-length range —
    the numbers every corpus release publishes, as a (metric, value)
    long table ready for a docs page.

    Engine-exactness: every metric is an integer count/sum/pick; the
    long layout is all-BIGINT (the q_agg_unpivot discipline).

    Plan shape: ONE scan, ONE global aggregate (token counts are
    row-local array sizes fused into the scan projection; the three
    DISTINCT counts expand the single aggregate, Catalyst's standard
    multi-distinct Expand), then a row-local unpivot of the 1-row wide
    frame. The whole datasheet costs one pass at any corpus size."""
    d = table(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", "[^A-Za-z0-9]+"), lambda t: t != F.lit(""))
    wide = d.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.size(toks)).cast("long").alias("n_tokens"),
        F.sum(F.length("text")).cast("long").alias("n_chars"),
        F.count_distinct("lang").cast("long").alias("n_langs"),
        F.count_distinct("source").cast("long").alias("n_sources"),
        F.count_distinct(F.md5(F.col("text").cast("binary")))
        .cast("long")
        .alias("n_distinct_texts"),
        F.min(F.size(toks)).cast("long").alias("min_tokens"),
        F.max(F.size(toks)).cast("long").alias("max_tokens"),
    )
    return (
        wide.unpivot(
            ids=[],
            values=[
                "n_docs",
                "n_tokens",
                "n_chars",
                "n_langs",
                "n_sources",
                "n_distinct_texts",
                "min_tokens",
                "max_tokens",
            ],
            variableColumnName="metric",
            valueColumnName="value",
        )
        .orderBy("metric")
    )


@register(
    "q_pipe_interleave",
    group="I",
    oracle="""
WITH ranked AS (
  SELECT doc_id, source,
         CAST(ROW_NUMBER() OVER (
             PARTITION BY source
             ORDER BY md5('ilv#' || CAST(doc_id AS VARCHAR)), doc_id
         ) AS BIGINT) AS rank_in_source
  FROM documents
)
SELECT doc_id, source, rank_in_source,
       CAST(ROW_NUMBER() OVER (ORDER BY rank_in_source, source, doc_id) - 1
            AS BIGINT) AS global_pos
FROM ranked ORDER BY global_pos
""",
)
def q_pipe_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-interleaved training order: documents are dealt ROUND-ROBIN
    across sources (rank-1 docs of every source first, then rank-2, ...),
    with a seeded hash shuffle inside each source — the mixing discipline
    that keeps any training window source-balanced even when one source
    dominates the corpus (the complement of q_pipe_mixture's
    proportional resampling: interleaving fixes ORDER, mixture fixes
    COUNTS).

    Scale shape: per-source ranks ride one source-keyed exchange (hash
    shuffle inside each partition's own window); the global position is
    the only total order, and — as with q_sort_multi — a global
    ROW_NUMBER is a range-partitioned sort at the declared SINK, which a
    production run shards exactly like q_pipe_shuffle_order (per-shard
    positions, no single-task funnel; the oracle's single window is the
    semantic spec, not the physical plan). Determinism: md5-seeded order
    with doc_id tiebreaks at both levels."""
    w_src = W.partitionBy("source").orderBy(
        F.md5(F.concat(F.lit("ilv#"), F.col("doc_id").cast("string"))), "doc_id"
    )
    ranked = table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.row_number().over(w_src).cast("long").alias("rank_in_source"),
    )
    w_all = W.orderBy("rank_in_source", "source", "doc_id")
    return (
        ranked.withColumn(
            "global_pos", (F.row_number().over(w_all) - 1).cast("long")
        )
        .select("doc_id", "source", "rank_in_source", "global_pos")
        .orderBy("global_pos")
    )


@register(
    "q_pipe_quantile_norm",
    group="I",
    oracle="""
WITH d AS (
  -- null-length docs are excluded: CDF matching over a NULL metric is
  -- meaningless, and the engines disagree on NULL ordering inside the
  -- rank windows (Spark NULLS FIRST vs DuckDB NULLS LAST — the
  -- edge-corpus NULL-text doc shifted every within-source rank)
  SELECT doc_id, source, n_chars FROM documents WHERE n_chars IS NOT NULL
), src AS (
  SELECT doc_id, source, n_chars,
         CAST(ROW_NUMBER() OVER (PARTITION BY source
                                 ORDER BY n_chars, doc_id) AS BIGINT) AS r,
         CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n_s,
         CAST(COUNT(*) OVER () AS BIGINT) AS n_total
  FROM d
), keyed AS (
  SELECT doc_id, source, n_chars, r,
         (r * n_total + n_s - 1) // n_s AS k
  FROM src
), dom AS (
  SELECT n_chars AS v,
         CAST(SUM(COUNT(*)) OVER (ORDER BY n_chars
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cc,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM d GROUP BY n_chars
)
SELECT k2.doc_id, k2.source, k2.n_chars, k2.r AS src_rank,
       CAST(dom.v AS BIGINT) AS norm_chars
FROM keyed k2 JOIN dom
  ON k2.k > dom.cc - dom.c AND k2.k <= dom.cc
ORDER BY k2.doc_id
""",
)
def q_pipe_quantile_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization across sources (CDF matching — the ML
    preprocessing step that maps every source's length distribution onto
    the GLOBAL distribution so no source's scale dominates a feature):
    each doc's within-source ceil-rank quantile is replaced by the global
    order statistic at the same quantile.

    Exactness: ranks and the quantile key k = ceil(r·N/n_s) are pure
    integer arithmetic (ties broken by doc_id), and the k-th global
    order statistic is a row-pick from the VALUE-DOMAIN cumulative table
    — no FP percentile anywhere.

    Scale shape: within-source ranks ride one source-keyed exchange; the
    global side is the value-domain rollup (distinct lengths, domain-
    sized) whose cumulative window runs over the domain, and the k →
    order-statistic lookup is a BROADCAST range join against that tiny
    table — the corpus is never globally sorted (the oracle's COUNT()
    OVER () spells the semantic; the plan gets N from a broadcast 1-row
    aggregate). The same two-level trick as MAD/latency_bands/
    winsorized, applied per-row instead of per-group."""
    d = (
        table(spark, sf_dir, "documents")
        .select("doc_id", "source", "n_chars")
        .filter(F.col("n_chars").isNotNull())  # see the oracle's d CTE note
    )
    w_src = W.partitionBy("source").orderBy("n_chars", "doc_id")
    n_s = d.groupBy("source").agg(F.count("*").cast("long").alias("n_s"))
    n_tot = d.agg(F.count("*").cast("long").alias("n_total"))
    keyed = (
        d.withColumn("r", F.row_number().over(w_src).cast("long"))
        .join(F.broadcast(n_s), "source")
        .crossJoin(F.broadcast(n_tot))
        .withColumn("k", F.expr("(r * n_total + n_s - 1) div n_s"))
    )
    cum_w = W.orderBy("n_chars").rowsBetween(W.unboundedPreceding, W.currentRow)
    dom = (
        d.groupBy("n_chars")
        .agg(F.count("*").cast("long").alias("c"))
        .select(
            F.col("n_chars").alias("v"),
            F.sum("c").over(cum_w).cast("long").alias("cc"),
            "c",
        )
    )
    return (
        keyed.join(
            F.broadcast(dom),
            (F.col("k") > F.col("cc") - F.col("c")) & (F.col("k") <= F.col("cc")),
        )
        .select(
            "doc_id",
            "source",
            "n_chars",
            F.col("r").alias("src_rank"),
            F.col("v").cast("long").alias("norm_chars"),
        )
        .orderBy("doc_id")
    )




def _leakage_oracle() -> str:
    """Composed oracle: the full recursive-CTE dup-cluster build from
    dedup.py plus the split CASE and the leak report (imported inside the
    function so module import order stays acyclic; runs once at
    decoration time)."""
    from mapreduce_framework_api_spark.operators.dedup import _LABELS_ORACLE_CTES

    return f"""
WITH RECURSIVE {_LABELS_ORACLE_CTES}, assigned AS (
  SELECT l.cluster_id, l.doc_id,
         CASE WHEN substr(md5(CAST(l.doc_id AS VARCHAR)), 1, 1) < 'c'
              THEN 'train'
              WHEN substr(md5(CAST(l.doc_id AS VARCHAR)), 1, 1) < 'e'
              THEN 'val'
              ELSE 'test' END AS split
  FROM labels l
), report AS (
  SELECT cluster_id,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_train,
         CAST(SUM(CASE WHEN split <> 'train' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_eval,
         CAST(MIN(doc_id) AS BIGINT) AS example_doc_id
  FROM assigned GROUP BY cluster_id
)
SELECT cluster_id, n_docs, n_train, n_eval, example_doc_id
FROM report WHERE n_train > 0 AND n_eval > 0
ORDER BY cluster_id
"""


@register(
    "q_pipe_split_leakage",
    group="I",
    oracle=_leakage_oracle(),
)
def q_pipe_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval LEAKAGE detection — the audit every split pipeline must
    pass: NEAR-DUPLICATE clusters (the trigram-Jaccard components from
    dedup's cluster_labels) that span BOTH the train split and an eval
    split under q_pipe_split_assign's hash assignment. Every reported
    cluster is contamination — an eval document whose near-copy sits in
    the training set — and the composed cure is q_pipe_end_to_end's
    dedup-BEFORE-split ordering; this query is the detector proving why
    that ordering matters.

    Scale shape: cluster labels are the cached dup-cluster intermediate
    (one row per dup-involved doc — tiny relative to the corpus); the
    split flag is a row-local hash; one cluster-keyed aggregate produces
    the report, bounded by the number of leaking clusters. The oracle
    COMPOSES the full recursive-CTE cluster build with the split CASE,
    so the audit itself is hash-verified end to end."""
    from mapreduce_framework_api_spark.operators.dedup import cluster_labels

    labeled = cluster_labels(spark, sf_dir).withColumn("split", split_column())
    return (
        labeled.groupBy("cluster_id")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.when(F.col("split") == "train", 1).otherwise(0))
            .cast("long")
            .alias("n_train"),
            F.sum(F.when(F.col("split") != "train", 1).otherwise(0))
            .cast("long")
            .alias("n_eval"),
            F.min("doc_id").cast("long").alias("example_doc_id"),
        )
        .filter((F.col("n_train") > 0) & (F.col("n_eval") > 0))
        .orderBy("cluster_id")
    )


# ------------------------------------------------ dataset snapshot diff ----


@register(
    "q_pipe_snapshot_diff",
    group="I",
    oracle="""
WITH snap_a AS (
  SELECT doc_id, md5(text) AS h
  FROM documents
  WHERE substr(md5('snapA#' || CAST(doc_id AS VARCHAR)), 1, 1) < 'e'
), snap_b AS (
  SELECT doc_id,
         md5(CASE WHEN substr(md5('edit#' || CAST(doc_id AS VARCHAR)), 1, 1) < '2'
                  THEN text || ' v2' ELSE text END) AS h
  FROM documents
  WHERE substr(md5('snapB#' || CAST(doc_id AS VARCHAR)), 1, 1) < 'e'
), diff AS (
  SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
         CASE WHEN a.doc_id IS NULL THEN 'added'
              WHEN b.doc_id IS NULL THEN 'removed'
              WHEN a.h <> b.h THEN 'changed'
              ELSE 'unchanged' END AS status
  FROM snap_a a FULL OUTER JOIN snap_b b ON a.doc_id = b.doc_id
)
SELECT status, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(doc_id) AS BIGINT) AS example_doc_id
FROM diff GROUP BY status ORDER BY status
""",
)
def q_pipe_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset VERSION DIFF — the audit a corpus release pipeline runs
    between snapshot N-1 and snapshot N: per-status counts of
    added / removed / changed / unchanged documents, where membership
    comes from each snapshot's id set and "changed" from a content-hash
    compare. Two deterministic derived snapshots stand in for the two
    release tables (A: ~7/8 of docs; B: a different ~7/8, with a 1/8
    subset's text edited), so the full diff machinery — two projections,
    a FULL OUTER join on the document key, hash inequality, status
    aggregate — runs exactly as it would across two real tables.

    Scale shape: the join is a doc_id-keyed full outer hash join (both
    sides hash-partitioned — at 100 TB this is the standard two-snapshot
    reconciliation shuffle, made cheap in practice by comparing md5
    CONTENT HASHES, 32 bytes/row, never the text bodies); the report is
    a 4-row aggregate. Production variant: store the content hash as a
    snapshot column and the diff never touches text at all — the plan
    here reads text only to compute the hashes it compares."""
    from mapreduce_framework_api_spark.functions.hashing import md5_flag

    docs = table(spark, sf_dir, "documents")

    def member(tag: str):
        return md5_flag("doc_id", tag, threshold="e")

    edited = md5_flag("doc_id", "edit")
    snap_a = docs.filter(member("snapA")).select(
        F.col("doc_id").alias("a_id"), F.md5("text").alias("a_h")
    )
    snap_b = docs.filter(member("snapB")).select(
        F.col("doc_id").alias("b_id"),
        F.md5(
            F.when(edited, F.concat(F.col("text"), F.lit(" v2"))).otherwise(
                F.col("text")
            )
        ).alias("b_h"),
    )
    diff = snap_a.join(snap_b, snap_a.a_id == snap_b.b_id, "full_outer").select(
        F.coalesce("a_id", "b_id").alias("doc_id"),
        F.when(F.col("a_id").isNull(), "added")
        .when(F.col("b_id").isNull(), "removed")
        .when(F.col("a_h") != F.col("b_h"), "changed")
        .otherwise("unchanged")
        .alias("status"),
    )
    return (
        diff.groupBy("status")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.min("doc_id").cast("long").alias("example_doc_id"),
        )
        .orderBy("status")
    )


# ------------------------------------------- cluster-aware split -----------


def _cluster_split_oracle() -> str:
    """Composed oracle: the recursive-CTE dup-cluster build (dedup.py's
    proven labels CTEs) LEFT-joined to the corpus so singletons key on
    their own doc_id, then the standard c/e split thresholds applied to
    md5 of the CLUSTER key."""
    from mapreduce_framework_api_spark.operators.dedup import _LABELS_ORACLE_CTES

    return f"""
WITH RECURSIVE {_LABELS_ORACLE_CTES}, keyed AS (
  SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS cluster_key
  FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id
)
SELECT doc_id, cluster_key,
       CASE WHEN substr(md5(CAST(cluster_key AS VARCHAR)), 1, 1) < 'c'
            THEN 'train'
            WHEN substr(md5(CAST(cluster_key AS VARCHAR)), 1, 1) < 'e'
            THEN 'val'
            ELSE 'test' END AS split
FROM keyed
ORDER BY doc_id
"""


@register(
    "q_pipe_split_by_cluster",
    group="I",
    oracle=_cluster_split_oracle(),
)
def q_pipe_split_by_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAKAGE-SAFE train/val/test assignment: split on the near-dup
    CLUSTER key instead of the document id, so a whole trigram-Jaccard
    component lands in exactly one split and no eval document can have a
    near-copy in the training set — structurally zero leakage, the cure
    for exactly what q_pipe_split_leakage detects under the naive
    per-document split (same c/e hash thresholds, different key).
    Documents in no dup cluster are their own singleton cluster
    (cluster_key = doc_id), so the assignment covers the full corpus.

    Scale shape: cluster labels are the cached dup-cluster intermediate
    (one row per dup-involved doc — tiny relative to the corpus) LEFT
    broadcast-joined onto the corpus ids; the split itself is a
    row-local hash of the cluster key. No new shuffle beyond the label
    build the dedup family already shares."""
    from mapreduce_framework_api_spark.operators.dedup import cluster_labels

    docs = table(spark, sf_dir, "documents").select("doc_id")
    keyed = docs.join(
        F.broadcast(cluster_labels(spark, sf_dir)), "doc_id", "left"
    ).select(
        "doc_id", F.coalesce("cluster_id", "doc_id").alias("cluster_key")
    )
    h1 = F.substring(_md5_of("cluster_key"), 1, 1)
    split = (
        F.when(h1 < "c", F.lit("train"))
        .when(h1 < "e", F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return keyed.select("doc_id", "cluster_key", split.alias("split")).orderBy(
        "doc_id"
    )
