"""Round-5 LLM-pipeline operators, part 9: URL canonicalization dedup,
tokenizer vocabulary-coverage audit, embedding effective dimensionality,
CDC changelog application, and training-shard manifest construction.

House contract: Spark-first plans, identically-aliased DuckDB oracles,
floats rounded identically on both sides; planted data uses the
repo's deterministic in-query planting idiom (pii_redact).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from us_stock_data_pipeline_spark.catalog import load_table
from us_stock_data_pipeline_spark.registry import register

# --------------------------------------------------------------------------
# URL canonicalization dedup
# --------------------------------------------------------------------------

_URL_ORACLE = """
WITH planted AS (
  SELECT doc_id,
         'HTTPS://CDN' || CAST(doc_id % 7 AS VARCHAR)
           || '.Example.COM/p/' || CAST(doc_id % 40 AS VARCHAR)
           || '?utm_source=feed&session=' || CAST(doc_id AS VARCHAR) AS url
  FROM documents
),
canon AS (
  SELECT doc_id,
         lower(regexp_replace(url, '\\?.*$', '')) AS canonical_url
  FROM planted
)
SELECT canonical_url,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(doc_id) AS BIGINT) AS keeper_doc_id
FROM canon
GROUP BY canonical_url
HAVING count(*) >= 2
ORDER BY canonical_url
"""


@register("dedup_url_canonical", oracle=_URL_ORACLE, tags=("llm", "dedup", "url"))
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level dedup, the cheapest pass in a crawl pipeline and the
    one that runs FIRST: canonicalize (lowercase scheme/host, strip
    query-string tracking params) and keep one document per canonical
    URL (min doc_id as the deterministic keeper). The fixture has no
    URL column, so URLs are planted deterministically in-query with
    identical expressions in the oracle. Canonicalization is
    regexp_replace + lower in JVM codegen — map-side at scan bandwidth
    — and the survivor election is one groupBy on the canonical key.
    At 100 TB this removes the bulk of crawl duplication for ~zero cost
    before any content hashing (exact sha-dedup) or shingling (MinHash)
    touches the corpus — the standard dedup ladder ordering."""
    docs = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("HTTPS://CDN"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".Example.COM/p/"),
        (F.col("doc_id") % 40).cast("string"),
        F.lit("?utm_source=feed&session="),
        F.col("doc_id").cast("string"),
    )
    canon = docs.select(
        "doc_id",
        F.lower(F.regexp_replace(url, r"\?.*$", "")).alias("canonical_url"),
    )
    return (
        canon.groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy("canonical_url")
    )


# --------------------------------------------------------------------------
# Tokenizer vocabulary-coverage audit
# --------------------------------------------------------------------------

_VOCAB_K = 20

_COVERAGE_ORACLE = f"""
WITH toks AS (
  SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
),
tf AS (SELECT w, CAST(count(*) AS BIGINT) AS freq FROM toks GROUP BY w),
vocab AS (
  SELECT w FROM (
    SELECT w, row_number() OVER (ORDER BY freq DESC, w) AS rn FROM tf
  ) WHERE rn <= {_VOCAB_K}
)
SELECT t.source,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(count(*) FILTER (WHERE v.w IS NULL) AS BIGINT) AS n_oov,
       round(count(*) FILTER (WHERE v.w IS NULL) * 1.0 / count(*), 4) AS oov_rate
FROM toks t LEFT JOIN vocab v ON t.w = v.w
GROUP BY t.source
ORDER BY t.source
"""


@register("tokenizer_vocab_coverage", oracle=_COVERAGE_ORACLE, tags=("llm", "tokenizer"))
def tokenizer_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer vocabulary-coverage audit: build the top-K vocabulary
    from corpus term frequencies, then measure each source's
    out-of-vocabulary token rate — the health check run before
    committing to a tokenizer (a source with high OOV will fragment
    into byte-fallback tokens and train poorly). Two-phase plan: the TF
    table aggregates corpus-wide (map-side combined), the K-row
    vocabulary BROADCASTS into a left join against the token stream, so
    the scoring pass is map-side with one final per-source rollup. At
    100 TB with a real 100k-token vocab the broadcast is still ~MBs —
    the coverage join never shuffles the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("source", F.explode(F.split("text", " ")).alias("w"))
    tf = toks.groupBy("w").agg(F.count(F.lit(1)).alias("freq"))
    vocab = (
        tf.withColumn(
            "rn", F.row_number().over(W.orderBy(F.desc("freq"), "w"))
        )
        .filter(F.col("rn") <= _VOCAB_K)
        .select("w", F.lit(1).alias("in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "w", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.count(F.when(F.col("in_vocab").isNull(), 1)).alias("n_oov"),
            F.round(
                F.count(F.when(F.col("in_vocab").isNull(), 1)) * 1.0
                / F.count(F.lit(1)),
                4,
            ).alias("oov_rate"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Embedding effective dimensionality
# --------------------------------------------------------------------------

_EFFDIM_ORACLE = """
WITH dims AS (SELECT i FROM generate_series(1, 64) AS t(i)),
flat AS (
  SELECT d.i AS dim, CAST(embedding[d.i] AS DOUBLE) AS v
  FROM embeddings e, dims d
),
dimvar AS (
  SELECT dim, avg(v * v) - avg(v) * avg(v) AS var FROM flat GROUP BY dim
)
SELECT
  CAST(count(*) AS BIGINT) AS n_dims,
  round(sum(var), 4) AS total_var,
  round(pow(sum(var), 2) / sum(var * var), 3) AS effective_dim,
  round(max(var) / sum(var), 4) AS top_dim_share
FROM dimvar
"""


@register("embedding_effective_dim", oracle=_EFFDIM_ORACLE, tags=("llm", "embedding"))
def embedding_effective_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space health: per-dimension variance and the
    participation ratio (sum v)^2 / sum v^2 — the 'effective
    dimensionality' proxy that flags anisotropic collapse (a 64-dim
    space where 3 dims carry all variance retrieves like a 3-dim one;
    whitening or re-training is indicated before building ANN indexes
    on it). Uses per-dim variance as the spectrum proxy so no
    covariance matrix is materialized: one posexplode + a 64-group
    variance aggregate (mergeable power sums, map-side combined), then
    a single-row fold over 64 values. The corpus is touched exactly
    once regardless of scale."""
    emb = load_table(spark, sf_dir, "embeddings")
    flat = emb.select(
        F.posexplode(F.transform("embedding", lambda x: x.cast("double"))).alias(
            "pos", "v"
        )
    )
    dimvar = flat.groupBy("pos").agg(
        (F.avg(F.col("v") * F.col("v")) - F.avg("v") * F.avg("v")).alias("var")
    )
    return dimvar.agg(
        F.count(F.lit(1)).alias("n_dims"),
        F.round(F.sum("var"), 4).alias("total_var"),
        F.round(F.pow(F.sum("var"), 2) / F.sum(F.col("var") * F.col("var")), 3).alias(
            "effective_dim"
        ),
        F.round(F.max("var") / F.sum("var"), 4).alias("top_dim_share"),
    )


# --------------------------------------------------------------------------
# CDC changelog application
# --------------------------------------------------------------------------

_CDC_ORACLE = """
WITH changelog AS (
  SELECT user_id AS key, ts, event_id,
         CASE WHEN event_id % 5 = 0 THEN 'D'
              WHEN event_id % 5 IN (1, 2) THEN 'U'
              ELSE 'I' END AS op,
         value
  FROM events
),
latest AS (
  SELECT key, op, value FROM (
    SELECT key, op, value,
           row_number() OVER (PARTITION BY key ORDER BY ts DESC, event_id DESC)
             AS rn
    FROM changelog
  ) WHERE rn = 1
)
SELECT
  CAST(count(*) AS BIGINT) AS n_keys,
  CAST(count(*) FILTER (WHERE op != 'D') AS BIGINT) AS n_live,
  CAST(count(*) FILTER (WHERE op = 'D') AS BIGINT) AS n_tombstoned,
  round(sum(CASE WHEN op != 'D' THEN value ELSE 0 END), 2) AS live_value_sum
FROM latest
"""


@register("etl_cdc_changelog_apply", oracle=_CDC_ORACLE, tags=("etl", "cdc"))
def etl_cdc_changelog_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog application with DELETE semantics: replay an
    insert/update/delete stream (ops derived deterministically from the
    fixture) and materialize the final state — latest op per key wins,
    a trailing 'D' tombstones the key entirely. This is the missing
    third of the repo's upsert family: `dedup_latest_snapshot` keeps
    latest rows, `etl_merge_upsert` merges two tables; real CDC apply
    (Debezium->lake) additionally retires keys. One shuffle on the key
    for the row_number window; at 100 TB the changelog is
    time-partitioned so the window reads one partition's worth per
    apply cycle, and the same plan runs incrementally under
    foreachBatch (stream_versioned_upsert is the streaming twin)."""
    ev = load_table(spark, sf_dir, "events")
    op = (
        F.when(F.col("event_id") % 5 == 0, "D")
        .when((F.col("event_id") % 5).isin(1, 2), "U")
        .otherwise("I")
    )
    changelog = ev.select(
        F.col("user_id").alias("key"), "ts", "event_id", op.alias("op"), "value"
    )
    rn = F.row_number().over(
        W.partitionBy("key").orderBy(F.desc("ts"), F.desc("event_id"))
    )
    latest = changelog.withColumn("rn", rn).filter(F.col("rn") == 1)
    return latest.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.count(F.when(F.col("op") != "D", 1)).alias("n_live"),
        F.count(F.when(F.col("op") == "D", 1)).alias("n_tombstoned"),
        F.round(
            F.sum(F.when(F.col("op") != "D", F.col("value")).otherwise(0.0)), 2
        ).alias("live_value_sum"),
    )


# --------------------------------------------------------------------------
# Training-shard manifest
# --------------------------------------------------------------------------

_SHARD_BUDGET = 20_000  # chars per shard (webdataset-style size target)

_SHARD_ORACLE = f"""
WITH ordered AS (
  SELECT source, doc_id, n_chars,
         sum(n_chars) OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM documents
),
assigned AS (
  SELECT source, doc_id, n_chars,
         (cum - n_chars) // {_SHARD_BUDGET} AS shard_idx
  FROM ordered
)
SELECT source, CAST(shard_idx AS BIGINT) AS shard_idx,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS shard_chars,
       CAST(min(doc_id) AS BIGINT) AS min_doc_id
FROM assigned
GROUP BY source, shard_idx
ORDER BY source, shard_idx
"""


@register("data_shard_manifest", oracle=_SHARD_ORACLE, tags=("llm", "assembly"))
def data_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard manifest (webdataset/MDS-style): order documents
    by a content-stable hash (so the sharding is reproducible and
    shuffled, not ingestion-ordered), running-sum their sizes, and cut
    shards at a byte budget via `(cum - size) div budget` — a document
    starts a new shard when the budget would overflow AT ITS START,
    the same first-fit-in-order rule `pack_token_budget` uses. The
    window partitions BY SOURCE, so the running sum never needs a
    global single-partition sort — each source shards independently
    (exactly how multi-corpus training data is laid out), and at
    100 TB per-source parallelism is the scale unit. Output is the
    manifest (shard -> doc count/bytes), i.e. aggregate state only."""
    docs = load_table(spark, sf_dir, "documents")
    assigned = docs.select(
        "source",
        "doc_id",
        "n_chars",
        F.expr(
            f"(sum(n_chars) OVER (PARTITION BY source ORDER BY md5(CAST(doc_id AS STRING)), doc_id "
            f"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_chars) div {_SHARD_BUDGET}"
        ).alias("shard_idx"),
    )
    return (
        assigned.groupBy("source", "shard_idx")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("shard_chars"),
            F.min("doc_id").alias("min_doc_id"),
        )
        .orderBy("source", "shard_idx")
    )
