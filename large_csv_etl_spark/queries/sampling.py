"""Deterministic + randomized sampling (§2b training-pipeline operators).

A 100 TB curation pipeline samples constantly — held-out eval splits,
ablation subsets, per-source mixture weights. Two families:

- **Hash-deterministic sampling** (the production form): membership is a
  pure function of a stable key (``md5(key)`` prefix vs a threshold), so
  the sample is reproducible across runs/engines, stable under
  repartitioning, requires no state or join, and composes with incremental
  ingestion (new rows self-select). All JVM expressions, fully
  predicate-pushable — and exactly expressible in ANSI SQL, so these are
  oracle-graded.

- **Seeded random sampling** (``sampleBy`` stratified Bernoulli): the
  statistical form when hash correlation with the key is a concern.
  Engine-specific RNG streams mean no cross-engine oracle — pinned instead
  by proportion tests (rows-only entry).

The hex-prefix threshold trick: md5 yields lowercase hex; comparing the
first two chars against e.g. ``'1a'`` selects 26/256 of the keyspace
(``'00'..'0f'`` = 16 buckets + ``'10'..'19'`` = 10). ASCII compare is
identical in Spark and DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load_table
from .helpers import (
    hash_bucket as _hash_bucket,
    local_frame,
    materialize_reduced,
    micro6,
    phash60,
    registry,
    sq_l2,
    shard_assign,
    split_assign,
    sql_shard,
    sql_split_case,
)

QUERIES, ORACLES, _q = registry()


@_q(
    "sample_hash_uniform",
    """
    SELECT doc_id, lang, source, n_chars
    FROM documents
    WHERE SUBSTR(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a'
    """,
)
def sample_hash_uniform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~10% (26/256) uniform deterministic sample of the corpus keyed on
    doc_id. The filter is a pure row-local expression: no shuffle, no
    state, survives any partitioning, and the same rows are selected on
    every engine and every run."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.filter(_hash_bucket(F.col("doc_id")) < "1a").select(
        "doc_id", "lang", "source", "n_chars"
    )


@_q(
    "sample_hash_stratified",
    """
    SELECT doc_id, source
    FROM documents
    WHERE SUBSTR(md5(CAST(doc_id AS VARCHAR)), 1, 2)
          < CASE WHEN source = 'src0' THEN '80' ELSE '1a' END
    """,
)
def sample_hash_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum deterministic rates — the mixture-weighting primitive:
    keep ~50% (128/256) of source ``src0`` and ~10% of everything else.
    Same row-local hash, per-row threshold from the stratum column."""
    docs = load_table(spark, sf_dir, "documents")
    thr = F.when(F.col("source") == "src0", "80").otherwise("1a")
    return docs.filter(_hash_bucket(F.col("doc_id")) < thr).select(
        "doc_id", "source"
    )


@_q("sample_random_stratified")
def sample_random_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded Bernoulli stratified sample (`sampleBy`): per-source counts of
    a 20%/50% draw. Rows-only (RNG streams are engine-specific);
    tests/test_sampling.py pins the per-stratum proportions."""
    docs = load_table(spark, sf_dir, "documents")
    fractions = {"src0": 0.5, "src1": 0.2, "src2": 0.2, "src3": 0.2}
    sampled = docs.sampleBy("source", fractions, seed=42)
    return sampled.groupBy("source").agg(F.count("*").alias("n_sampled"))


@_q(
    "sample_exact_k_per_group",
    """
    SELECT doc_id, source FROM (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents
    ) WHERE rn <= 5
    """,
)
def sample_exact_k_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k-per-stratum sample: rank each group by the md5 of the key
    (a deterministic, engine-portable stand-in for a random order; doc_id
    tie-break) and keep the first 5. Unlike rate-based sampling this
    guarantees the per-group size — the eval-split / few-shot-pool
    primitive. One shuffle on the stratum; rank k<<n means the window
    never materializes more than the group (and at 100 TB you'd pre-filter
    with a hash-rate sample to bound the sort input)."""
    docs = load_table(spark, sf_dir, "documents")

    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.select("doc_id", "source", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 5)
        .select("doc_id", "source")
    )


@_q(
    "sample_mixture_weighted",
    """
    WITH stats AS (
      SELECT source, COUNT(*) AS n_s FROM documents GROUP BY source
    ), tot AS (SELECT CAST(SUM(n_s) AS BIGINT) AS n FROM stats),
    rates AS (
      SELECT source,
             CAST(FLOOR(LEAST(
               ((CASE WHEN source IN ('src0','src1','src2','src3','src4')
                      THEN 3.0 ELSE 1.0 END / 30.0) * (0.5 * n)) / n_s,
               1.0) * 256) AS BIGINT) AS bucket
      FROM stats, tot
    )
    SELECT d.doc_id, d.source
    FROM documents d JOIN rates r ON d.source = r.source
    WHERE r.bucket >= 256
       OR SUBSTR(md5(CAST(d.doc_id AS VARCHAR)), 1, 2) < printf('%02x', r.bucket)
    """,
)
def sample_mixture_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture composer: hit a target per-source blend (here 3x weight on
    src0-4, total budget 50% of the corpus) by deriving each source's
    deterministic hash keep-rate FROM the observed counts —
    rate = min(1, target_frac * budget / n_source). Two tiny aggregates
    produce the |sources|-row rate table, which broadcasts onto the scan;
    membership stays a pure row-local md5 test, so the same rows are kept
    on any engine, any run, any partitioning. The rate quantizes to a
    256-bucket hex prefix: both engines floor the identical double, so
    the bucket boundary is exact."""
    docs = load_table(spark, sf_dir, "documents")
    stats = docs.groupBy("source").agg(F.count("*").alias("n_s"))
    tot = stats.agg(F.sum("n_s").cast("bigint").alias("n"))
    w = F.when(
        F.col("source").isin("src0", "src1", "src2", "src3", "src4"), F.lit(3.0)
    ).otherwise(F.lit(1.0))
    rate_raw = ((w / F.lit(30.0)) * (F.lit(0.5) * F.col("n"))) / F.col("n_s")
    bucket = F.floor(F.least(rate_raw, F.lit(1.0)) * F.lit(256)).cast("bigint")
    rates = stats.join(F.broadcast(tot)).select("source", bucket.alias("bucket"))
    return (
        docs.join(F.broadcast(rates), "source")
        .filter(
            (F.col("bucket") >= 256)
            | (
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
                < F.format_string("%02x", F.col("bucket"))
            )
        )
        .select("doc_id", "source")
    )


@_q(
    "sample_token_budget",
    r"""
    WITH sized AS (
      SELECT doc_id, source,
             CASE WHEN TRIM(text) = '' THEN 0
                  ELSE LEN(regexp_split_to_array(TRIM(text), '\s+')) END
               AS n_tokens
      FROM documents
    ), ranked AS (
      SELECT doc_id, source, n_tokens,
             CAST(SUM(n_tokens) OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_tokens
      FROM sized
    )
    SELECT doc_id, source, n_tokens, cum_tokens
    FROM ranked WHERE cum_tokens <= 500
    """,
)
def sample_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget allocation: cap each source's contribution at 500
    tokens by taking documents in deterministic md5 order until the
    running token total crosses the budget — how a training mix caps an
    over-represented source by VOLUME, not document count (the exact-k
    sampler's complement). One window pass per source; the cumulative sum
    is CAST BIGINT in the oracle (HUGEINT rule). Shares the whitespace
    token-count contract of queries/text.py."""

    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.when(F.trim(F.col("text")) == "", F.lit(0)).otherwise(
        F.size(F.split(F.trim(F.col("text")), r"\s+"))
    )
    sized = docs.select(
        "doc_id", "source", n_tokens.cast("bigint").alias("n_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.md5(F.col("doc_id").cast("string")), F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        sized.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") <= 500)
        .select("doc_id", "source", "n_tokens", "cum_tokens")
    )


@_q(
    "sample_pack_sequences",
    r"""
    WITH sized AS (
      SELECT doc_id, source,
             CASE WHEN TRIM(text) = '' THEN 0
                  ELSE LEN(regexp_split_to_array(TRIM(text), '\s+')) END AS n_tokens
      FROM documents
    ), cum AS (
      SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
             CAST(SUM(n_tokens) OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             - CAST(n_tokens AS BIGINT) AS prev_cum
      FROM sized
    )
    SELECT doc_id, source, n_tokens,
           CAST(FLOOR(prev_cum / 2048.0) AS BIGINT) AS seq_id,
           CAST(prev_cum % 2048 AS BIGINT) AS seq_offset
    FROM cum
    """,
)
def sample_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing: assign every document a (seq_id,
    seq_offset) slot in a stream of fixed 2048-token blocks, exactly how an
    LLM pre-training loader concatenates shuffled documents and slices the
    token stream at block boundaries. The shuffle order is the
    deterministic md5 order (reproducible across engines and runs); packing
    is per-source so each source's partition-local window sorts
    independently — no global single-partition window at 100 TB. One
    window pass; all arithmetic integer-exact (prev_cum < 2^53, FLOOR on
    the double quotient is exact)."""

    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.when(F.trim(F.col("text")) == "", F.lit(0)).otherwise(
        F.size(F.split(F.trim(F.col("text")), r"\s+"))
    )
    sized = docs.select("doc_id", "source", n_tokens.cast("bigint").alias("n_tokens"))
    w = (
        Window.partitionBy("source")
        .orderBy(F.md5(F.col("doc_id").cast("string")), F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = sized.withColumn(
        "prev_cum", F.sum("n_tokens").over(w) - F.col("n_tokens")
    )
    return cum.select(
        "doc_id",
        "source",
        "n_tokens",
        F.floor(F.col("prev_cum") / F.lit(2048.0)).cast("bigint").alias("seq_id"),
        (F.col("prev_cum") % F.lit(2048)).cast("bigint").alias("seq_offset"),
    )


@_q(
    "sample_split_train_val_test",
    f"""
    WITH tagged AS (
      SELECT source, {sql_split_case("doc_id")} AS split
      FROM documents
    )
    SELECT source, split, COUNT(*) AS n_docs
    FROM tagged GROUP BY source, split
    """,
)
def sample_split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split: membership is a pure
    function of md5(doc_id) (hex prefix thresholds — the ONE split
    contract in queries/helpers.py, shared with jobs.py's split step and
    export_training_manifest), so the split is reproducible across
    engines, runs, and repartitionings, and new documents self-assign on
    ingest without touching existing assignments — the property a 100 TB
    corpus needs (a seeded randomSplit re-deals everything when the input
    changes). Row-local expression, no shuffle before the count."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("source", split_assign(F.col("doc_id")).alias("split"))
        .groupBy("source", "split")
        .agg(F.count("*").alias("n_docs"))
    )


@_q(
    "sample_negative_pairs",
    """
    WITH h AS (
      SELECT doc_id,
             md5(CAST(doc_id AS VARCHAR)) AS hh,
             substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS bkt
      FROM documents
    ), l AS (
      SELECT doc_id,
             LEAD(doc_id, 1) OVER (PARTITION BY bkt ORDER BY hh, doc_id) AS n1,
             LEAD(doc_id, 2) OVER (PARTITION BY bkt ORDER BY hh, doc_id) AS n2
      FROM h
    )
    SELECT doc_id, 1 AS neg_rank, n1 AS neg_doc_id FROM l WHERE n1 IS NOT NULL
    UNION ALL
    SELECT doc_id, 2 AS neg_rank, n2 AS neg_doc_id FROM l WHERE n2 IS NOT NULL
    """,
)
def sample_negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive training: each
    document gets k=2 pseudo-random partners — its successors on an
    md5-hash ring — reproducible across runs/engines with no RNG state.
    Hash order is statistically independent of any data attribute, so
    ring successors are as-good-as-random negatives, and the pairing is
    stable under re-ingestion (a new doc inserts into the ring without
    re-dealing existing pairs).

    Scale shape: the ring is SEGMENTED by the first hash byte (256
    buckets), so the ordering window is ``PARTITION BY bucket`` — 256
    parallel sorts instead of the single-partition global-ORDER-BY window
    that melts at 100 TB. Segment boundaries lose at most k pairs per
    bucket (the last k docs of each segment have fewer successors) —
    256*k pairs total, noise at any real corpus size, in exchange for
    full parallelism. One window pass, no join, no shuffle beyond the
    bucket partitioning."""

    docs = load_table(spark, sf_dir, "documents")
    hh = F.md5(F.col("doc_id").cast("string"))
    h = docs.select(
        "doc_id", hh.alias("hh"), F.substring(hh, 1, 2).alias("bkt")
    )
    w = Window.partitionBy("bkt").orderBy("hh", "doc_id")
    led = h.select(
        "doc_id",
        F.lead("doc_id", 1).over(w).alias("n1"),
        F.lead("doc_id", 2).over(w).alias("n2"),
    )
    long = led.select(
        "doc_id",
        F.explode(
            F.array(
                F.struct(F.lit(1).alias("neg_rank"), F.col("n1").alias("neg_doc_id")),
                F.struct(F.lit(2).alias("neg_rank"), F.col("n2").alias("neg_doc_id")),
            )
        ).alias("p"),
    )
    return long.select("doc_id", "p.neg_rank", "p.neg_doc_id").filter(
        F.col("neg_doc_id").isNotNull()
    )


@_q(
    "sample_export_shards",
    rf"""
    WITH d AS (
      SELECT doc_id,
             {sql_shard("doc_id")} AS shard,
             CASE WHEN TRIM(text) = '' THEN 0
                  ELSE LEN(regexp_split_to_array(TRIM(text), '\s+')) END AS n_tokens
      FROM documents
    )
    SELECT shard, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id
    FROM d GROUP BY shard
    """,
)
def sample_export_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-export sharding manifest: each document is
    assigned to one of 16 shards by the first hex char of md5(doc_id) —
    engine-portable, reshuffle-stable, and independent of input file
    layout, so re-running the export after a compaction or backfill
    yields byte-identical shard membership. Returns the per-shard
    manifest (doc count, token mass, id range) a downstream trainer uses
    to size readers; the actual write is ``repartition(shard).write
    .partitionBy(shard)`` over the same expression — one shuffle, 16
    balanced output groups (md5 uniformity), no hot shard at 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.when(F.trim(F.col("text")) == "", 0).otherwise(
        F.size(F.split(F.trim(F.col("text")), r"\s+"))
    )
    return (
        docs.select(
            "doc_id",
            shard_assign(F.col("doc_id")).alias("shard"),
            n_tokens.alias("n_tokens"),
        )
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


@_q(
    "export_training_manifest",
    rf"""
    WITH d AS (
      SELECT doc_id, lang, source, text,
             CASE WHEN TRIM(text) = '' THEN 0
                  ELSE LEN(regexp_split_to_array(TRIM(text), '\s+')) END AS n_tokens
      FROM documents
    )
    SELECT d.doc_id,
           d.lang,
           d.source,
           CAST(d.n_tokens AS BIGINT) AS n_tokens,
           md5(d.text) AS content_md5,
           {sql_split_case("d.doc_id")} AS split,
           {sql_shard("d.doc_id")} AS shard,
           CAST(len(e.embedding) AS BIGINT) AS emb_dim
    FROM d JOIN embeddings e ON d.doc_id = e.vec_id
    WHERE d.n_tokens >= 3
    """,
)
def export_training_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The capstone export join: one record per training example, ready to
    write partitioned by (split, shard) — token count, content digest,
    deterministic split/shard assignment, and the embedding's
    dimensionality from the 1:1 documents-embeddings join. Everything is
    a row-local expression except the single equi-join, which at 100 TB
    co-partitions on the shared key (both tables bucketed or written by
    the same pipeline); no wide shuffle of text AND vectors together —
    the embedding side contributes only its dimensionality here."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.size("embedding").cast("bigint").alias("emb_dim")
    )
    n_tokens = F.when(F.trim(F.col("text")) == "", 0).otherwise(
        F.size(F.split(F.trim(F.col("text")), r"\s+"))
    )
    d = docs.select(
        "doc_id",
        "lang",
        "source",
        n_tokens.cast("bigint").alias("n_tokens"),
        F.md5(F.col("text")).alias("content_md5"),
        split_assign(F.col("doc_id")).alias("split"),
        shard_assign(F.col("doc_id")).alias("shard"),
    ).filter(F.col("n_tokens") >= 3)
    return d.join(emb, d.doc_id == emb.vec_id).drop("vec_id")


@_q(
    "sample_temperature_mixture",
    """
    WITH stats AS (
      SELECT source, COUNT(*) AS n_s FROM documents GROUP BY source
    ), w AS (
      SELECT source, n_s,
             CAST(FLOOR(SQRT(CAST(n_s AS DOUBLE)) * 1000000000) AS BIGINT) AS wfp
      FROM stats
    ), tot AS (
      SELECT CAST(SUM(n_s) AS BIGINT) AS n, CAST(SUM(wfp) AS BIGINT) AS totw
      FROM w
    ), rates AS (
      SELECT source, CAST(FLOOR(LEAST(
               ((CAST(wfp AS DOUBLE) / CAST(totw AS DOUBLE)) * (0.5 * n)) / n_s,
               1.0) * 256) AS BIGINT) AS bucket
      FROM w, tot
    )
    SELECT d.doc_id, d.source
    FROM documents d JOIN rates r ON d.source = r.source
    WHERE r.bucket >= 256
       OR SUBSTR(md5(CAST(d.doc_id AS VARCHAR)), 1, 2) < printf('%02x', r.bucket)
    """,
)
def sample_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture sampling at alpha = 0.5: per-source keep
    rates proportional to sqrt(n_source) — the standard multilingual /
    multi-source rebalancing that upsamples small sources relative to
    their share without letting any single source dominate (alpha = 1 is
    proportional sampling, alpha = 0 uniform-over-sources; sqrt is the
    midpoint and, unlike a general pow(), is correctly rounded under
    IEEE-754, so both engines compute the identical weight). Weights are
    floored to 1e-9 fixed point and summed exactly as BIGINT, so the
    normalization denominator is partition-order independent; membership
    is the same row-local 256-bucket md5 test as sample_mixture_weighted
    (deterministic on any engine, any partitioning). Budget: half the
    corpus. Two |sources|-row aggregates broadcast onto the scan — one
    pass, no per-doc shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    stats = docs.groupBy("source").agg(F.count("*").alias("n_s"))
    wfp = F.floor(F.sqrt(F.col("n_s").cast("double")) * F.lit(1000000000)).cast(
        "bigint"
    )
    w = stats.select("source", "n_s", wfp.alias("wfp"))
    tot = w.agg(
        F.sum("n_s").cast("bigint").alias("n"),
        F.sum("wfp").cast("bigint").alias("totw"),
    )
    rate_raw = (
        (F.col("wfp").cast("double") / F.col("totw").cast("double"))
        * (F.lit(0.5) * F.col("n"))
    ) / F.col("n_s")
    bucket = F.floor(F.least(rate_raw, F.lit(1.0)) * F.lit(256)).cast("bigint")
    rates = w.join(F.broadcast(tot)).select("source", bucket.alias("bucket"))
    return (
        docs.join(F.broadcast(rates), "source")
        .filter(
            (F.col("bucket") >= 256)
            | (
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
                < F.format_string("%02x", F.col("bucket"))
            )
        )
        .select("doc_id", "source")
    )


# Weight-aware acceptance contract: base rate 1/4, acceptance probability
# min(1, weight/4) -> integer threshold LEAST(256, 64*weight) over the
# 256-bucket md5 space. All-integer, so both engines compare identically.
SURVIVOR_SAMPLE_THRESHOLD_SQL = "LEAST(256, 64 * weight)"


@_q("sample_survivor_weighted")
def sample_survivor_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-aware sampling of the DEDUPED corpus: each survivor is
    accepted with probability min(1, weight/4) — cluster weight times the
    1/4 base rate — so popular content (a survivor that stood for many
    near-copies) keeps its expected mass in the sample instead of being
    silently down-weighted by dedup. The composition every curation
    pipeline runs (dedup -> weight -> sample) as ONE lazy plan over the
    graded building blocks: dedup_survivor_weights supplies (survivor,
    weight); membership is the deterministic 256-bucket md5 contract
    (hash_bucket) against the integer threshold LEAST(256, 64*weight) —
    pure row-local arithmetic, reproducible across engines, runs, and
    repartitionings, composing with incremental ingest like every other
    hash-deterministic sampler here. Weight >= 4 means always kept.

    Output is row-level and auditable: every survivor with its weight,
    integer acceptance threshold, and 0/1 accepted flag (downstream
    filters accepted = 1; graders check the full decision table)."""
    from .dedup import dedup_survivor_weights

    sw = dedup_survivor_weights(spark, sf_dir)
    threshold = F.least(F.lit(256).cast("bigint"), F.lit(64) * F.col("weight"))
    bucket_int = F.conv(_hash_bucket(F.col("doc_id")), 16, 10).cast("int")
    return sw.select(
        "doc_id",
        "weight",
        threshold.cast("bigint").alias("accept_threshold"),
        F.when(bucket_int < threshold, 1).otherwise(0).alias("accepted"),
    )


def _survivor_weighted_oracle() -> str:
    from .dedup import ORACLES as _DEDUP_ORACLES

    return f"""
    WITH sw AS ({_DEDUP_ORACLES["dedup_survivor_weights"]})
    SELECT doc_id, weight,
           CAST({SURVIVOR_SAMPLE_THRESHOLD_SQL} AS BIGINT) AS accept_threshold,
           CASE WHEN ('0x' || SUBSTR(md5(CAST(doc_id AS VARCHAR)), 1, 2))::INT
                     < {SURVIVOR_SAMPLE_THRESHOLD_SQL}
                THEN 1 ELSE 0 END AS accepted
    FROM sw
    """


ORACLES["sample_survivor_weighted"] = _survivor_weighted_oracle()


@_q(
    "sample_mixture_solver",
    r"""
    WITH sized AS (
      SELECT source,
             CASE WHEN TRIM(text) = '' THEN 0
                  ELSE LEN(regexp_split_to_array(TRIM(text), '\s+')) END
               AS n_tokens
      FROM documents
    ), stats AS (
      SELECT source,
             CAST(SUM(n_tokens) AS BIGINT) AS avail,
             CASE WHEN source IN ('src0','src1','src2','src3','src4')
                  THEN 3 ELSE 1 END AS weight
      FROM sized GROUP BY source
    ), tot AS (
      SELECT CAST(SUM(avail) AS BIGINT) // 2 AS budget,
             CAST(SUM(weight) AS BIGINT) AS w_all
      FROM stats
    ), r1 AS (
      SELECT s.source, s.avail, s.weight, t.budget, t.w_all,
             (t.budget * s.weight) // t.w_all AS desired,
             LEAST(s.avail, (t.budget * s.weight) // t.w_all) AS taken1,
             CASE WHEN s.avail <= (t.budget * s.weight) // t.w_all
                  THEN 1 ELSE 0 END AS saturated
      FROM stats s CROSS JOIN tot t
    ), spill AS (
      SELECT CAST(MAX(budget) - SUM(taken1) AS BIGINT) AS leftover,
             CAST(SUM(CASE WHEN saturated = 0 THEN weight ELSE 0 END)
                  AS BIGINT) AS w_unsat
      FROM r1
    )
    SELECT r.source,
           CAST(r.weight AS BIGINT) AS weight,
           r.avail AS n_tokens_avail,
           CAST(r.saturated AS BIGINT) AS saturated,
           LEAST(r.avail,
                 r.desired + CASE WHEN r.saturated = 0 AND sp.w_unsat > 0
                                  THEN (sp.leftover * r.weight) // sp.w_unsat
                                  ELSE 0 END) AS granted_tokens,
           CAST(LEAST(r.avail,
                 r.desired + CASE WHEN r.saturated = 0 AND sp.w_unsat > 0
                                  THEN (sp.leftover * r.weight) // sp.w_unsat
                                  ELSE 0 END) AS DOUBLE)
             / CAST(r.avail AS DOUBLE) AS rate_final
    FROM r1 r CROSS JOIN spill sp
    """,
)
def sample_mixture_solver(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-mixture solver with saturation spill: hit a target per-source
    TOKEN blend (3x weight on src0-4, total budget 50% of corpus tokens)
    when some sources can't supply their share. Round 1 hands each source
    budget*w/W tokens capped at availability; the undistributed leftover
    from saturated sources is re-dealt once, proportionally by weight,
    among the unsaturated ones — the closed-form first step of
    water-filling, which is what production mixture configs actually run
    (iterating to a fixpoint changes allocations by < one re-deal and is
    not worth a driver loop at 100 TB). Everything is exact BIGINT token
    arithmetic (integer floor-division in both engines — no float
    accumulation anywhere); the only double op is the final per-source
    rate division. Two tiny aggregates over the |sources|-row stats table
    (itself one map-side-combinable pass over documents); rates then
    broadcast onto the scan exactly like sample_mixture_weighted's."""

    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.when(F.trim(F.col("text")) == "", F.lit(0)).otherwise(
        F.size(F.split(F.trim(F.col("text")), r"\s+"))
    )
    stats = materialize_reduced(
        docs.select("source", n_tokens.cast("bigint").alias("n_tokens"))
        .groupBy("source")
        .agg(F.sum("n_tokens").alias("avail"))
        .select(
            "source",
            "avail",
            F.when(
                F.col("source").isin("src0", "src1", "src2", "src3", "src4"),
                F.lit(3),
            )
            .otherwise(F.lit(1))
            .cast("bigint")
            .alias("weight"),
        )
    )
    tot = stats.agg(
        F.expr("sum(avail) DIV 2").alias("budget"),
        F.sum("weight").alias("w_all"),
    )
    r1 = stats.crossJoin(F.broadcast(tot)).select(
        "source",
        "avail",
        "weight",
        "budget",
        F.expr("(budget * weight) DIV w_all").alias("desired"),
    )
    r1 = r1.select(
        "*",
        F.least(F.col("avail"), F.col("desired")).alias("taken1"),
        F.when(F.col("avail") <= F.col("desired"), F.lit(1))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("saturated"),
    )
    r1 = materialize_reduced(r1)
    spill = r1.agg(
        (F.max("budget") - F.sum("taken1")).alias("leftover"),
        F.sum(
            F.when(F.col("saturated") == 0, F.col("weight")).otherwise(0)
        ).alias("w_unsat"),
    )
    granted = F.least(
        F.col("avail"),
        F.col("desired")
        + F.when(
            (F.col("saturated") == 0) & (F.col("w_unsat") > 0),
            F.expr("(leftover * weight) DIV w_unsat"),
        ).otherwise(F.lit(0)),
    )
    return r1.crossJoin(F.broadcast(spill)).select(
        "source",
        "weight",
        F.col("avail").alias("n_tokens_avail"),
        "saturated",
        granted.alias("granted_tokens"),
        (granted.cast("double") / F.col("avail").cast("double")).alias(
            "rate_final"
        ),
    )


@_q(
    "sample_kfold_assign",
    """
    SELECT fold, COUNT(*) AS n_docs FROM (
      SELECT CAST(('0x' || SUBSTR(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                  % 10 AS BIGINT) AS fold
      FROM documents
    )
    GROUP BY fold
    """,
)
def sample_kfold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10-fold cross-validation assignment: fold = the
    first 32 md5 bits mod k — like the train/val/test split, membership
    is a pure row function, so folds are reproducible on any cluster
    shape and new documents self-assign without re-dealing old ones
    (the property sklearn-style random KFold lacks). Reported as the
    per-fold histogram; the assignment expression itself is what a
    training job reuses as a column."""
    docs = load_table(spark, sf_dir, "documents")
    fold = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 10
    )
    return (
        docs.select(fold.alias("fold"))
        .groupBy("fold")
        .agg(F.count("*").alias("n_docs"))
    )


@_q(
    "sample_length_bucket_waste",
    r"""
    WITH sized AS (
      SELECT CASE WHEN TRIM(text) = '' THEN 0
                  ELSE LEN(regexp_split_to_array(TRIM(text), '\s+')) END
               AS n_tokens
      FROM documents
    ), bucketed AS (
      SELECT n_tokens,
             CASE WHEN n_tokens <= 1 THEN CAST(1 AS BIGINT)
                  ELSE (CAST(1 AS BIGINT)
                        << LENGTH(bin(CAST(n_tokens - 1 AS BIGINT))))
                  END AS bucket
      FROM sized WHERE n_tokens > 0
    )
    SELECT bucket,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(bucket - n_tokens) AS BIGINT) AS total_pad_waste,
           CAST(SUM(bucket - n_tokens) AS DOUBLE)
             / (CAST(SUM(n_tokens) AS DOUBLE) + SUM(bucket - n_tokens))
             AS waste_ratio
    FROM bucketed
    GROUP BY bucket
    """,
)
def sample_length_bucket_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding-waste report for power-of-2 length bucketing — the
    batching-efficiency audit run before choosing sequence buckets for
    training (pad-to-bucket wastes `bucket - n_tokens` slots per doc;
    a bad bucket layout silently burns a double-digit share of
    compute). Bucket ids are exact integer powers of two derived with
    pure integer arithmetic — smallest power of two >= n is
    1 << bit_length(n-1), expressed as length(bin(n-1)) in both
    engines (float log2 diverges between Spark's log(x)/log(2) and
    DuckDB's exact log2 at n = 2^29 and beyond — ADVICE r6); the waste
    sums are pure BIGINT. One row-local map + one bounded aggregate
    (<= bit_length(max_len) buckets)."""
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.when(F.trim(F.col("text")) == "", F.lit(0)).otherwise(
        F.size(F.split(F.trim(F.col("text")), r"\s+"))
    )
    sized = docs.select(n_tokens.cast("bigint").alias("n_tokens")).filter(
        F.col("n_tokens") > 0
    )
    bucket = F.when(F.col("n_tokens") <= 1, F.lit(1).cast("bigint")).otherwise(
        F.expr(
            "shiftleft(CAST(1 AS BIGINT),"
            " length(bin(CAST(n_tokens - 1 AS BIGINT))))"
        )
    )
    waste = F.sum(F.col("bucket") - F.col("n_tokens"))
    return (
        sized.select("n_tokens", bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            waste.alias("total_pad_waste"),
            (
                waste.cast("double")
                / (F.sum("n_tokens").cast("double") + waste)
            ).alias("waste_ratio"),
        )
    )


@_q(
    "sample_neyman_allocation",
    """
    WITH c AS (
      SELECT o_orderpriority AS stratum,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ), m AS (
      SELECT stratum, CAST(COUNT(*) AS BIGINT) AS n_h,
             CAST(SUM(cents) AS BIGINT) AS s1,
             CAST(SUM(cents) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS mu
      FROM c GROUP BY stratum
    ), g AS (
      SELECT c.stratum, m.n_h, m.s1,
             CAST(SUM(c.cents - m.mu) AS BIGINT) AS ds,
             CAST(CAST(SUM(CAST(c.cents - m.mu AS DECIMAL(38,0))
                           * (c.cents - m.mu)) AS DECIMAL(38,0))
                  AS BIGINT) AS ds2
      FROM c JOIN m ON m.stratum = c.stratum
      GROUP BY c.stratum, m.n_h, m.s1
    ), w AS (
      SELECT stratum, n_h,
             CAST(s1 AS DOUBLE) / n_h / 100.0 AS mean_price,
             SQRT((CAST(ds2 AS DOUBLE)
                   - CAST(ds AS DOUBLE) * CAST(ds AS DOUBLE) / n_h) / n_h)
               / 100.0 AS stddev_price,
             CAST(round(n_h * SQRT((CAST(ds2 AS DOUBLE)
                   - CAST(ds AS DOUBLE) * CAST(ds AS DOUBLE) / n_h) / n_h))
                  AS BIGINT) AS wgt
      FROM g
    )
    SELECT stratum, n_h, mean_price, stddev_price,
           CAST(wgt AS DOUBLE) / SUM(wgt) OVER () AS weight_share,
           CAST(round(10000.0 * wgt / SUM(wgt) OVER ()) AS BIGINT)
             AS alloc_n
    FROM w
    """,
)
def sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified sampling plan: allocate a 10,000-row
    budget across order-priority strata proportionally to N_h * S_h —
    the allocation that minimizes estimator variance for a fixed budget,
    and the principled answer to 'how many rows should each stratum
    contribute' that uniform or proportional sampling gets wrong when
    strata differ in spread. The per-stratum second moment is computed
    CENTERED on the integer floor-mean (two passes: exact BIGINT cent
    sums give mu = s1 div n, then sum (cents-mu) and (cents-mu)^2): the
    raw power sum Sum(cents^2) ~ 1e19 exceeds exact-double range and
    its decimal->double cast diverges by an ulp between engines (bit
    this query at sf0.1), while the centered sums stay inside BIGINT,
    whose int64->double conversion both engines round identically.
    Valid while n_h * var_cents^2 < 9.2e18; beyond that, center in
    dollars. The per-stratum weight N_h*S_h rounds to BIGINT BEFORE the
    cross-stratum total so the share denominator is an exact integer
    sum; SQRT is IEEE-correct in both engines. Companions execute the
    plan: sample_exact_k_per_group takes the alloc_n's,
    sample_random_stratified takes rates."""

    orders = load_table(spark, sf_dir, "orders")
    c = orders.select(
        F.col("o_orderpriority").alias("stratum"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    m = c.groupBy("stratum").agg(
        F.count("*").cast("bigint").alias("n_h"),
        F.sum("cents").cast("bigint").alias("s1"),
        F.expr(
            "CAST(SUM(cents) AS BIGINT) div CAST(COUNT(*) AS BIGINT)"
        ).alias("mu"),
    )
    d = F.col("cents") - F.col("mu")
    g = (
        c.join(F.broadcast(m), "stratum")
        .groupBy("stratum", "n_h", "s1")
        .agg(
            F.sum(d).cast("bigint").alias("ds"),
            F.sum(d.cast("decimal(38,0)") * d)
            .cast("decimal(38,0)")
            .cast("bigint")
            .alias("ds2"),
        )
    )
    n_h = F.col("n_h")
    ds, ds2 = F.col("ds").cast("double"), F.col("ds2").cast("double")
    sd_cents = F.sqrt((ds2 - ds * ds / n_h) / n_h)
    w = g.select(
        "stratum",
        "n_h",
        (F.col("s1").cast("double") / n_h / F.lit(100.0)).alias("mean_price"),
        (sd_cents / F.lit(100.0)).alias("stddev_price"),
        F.round(n_h * sd_cents).cast("bigint").alias("wgt"),
    )
    tot = Window.partitionBy()
    return w.select(
        "stratum",
        "n_h",
        "mean_price",
        "stddev_price",
        (F.col("wgt").cast("double") / F.sum("wgt").over(tot)).alias(
            "weight_share"
        ),
        F.round(F.lit(10000.0) * F.col("wgt") / F.sum("wgt").over(tot))
        .cast("bigint")
        .alias("alloc_n"),
    )


# Poisson(1) CDF quantized to 65536 md5 buckets: floor(cdf_k * 65536).
# Hardcoded so neither engine evaluates exp() at query time (libm rule);
# weights cap at 5 (P(w>5) ~ 6e-4 folds into the last bucket).
_POISSON_CUTS = (24109, 48222, 60277, 64291, 65296)
_BOOT_REPLICATES = 8

_POISSON_CASE = (
    "CASE WHEN u < 24109 THEN 0 WHEN u < 48222 THEN 1 WHEN u < 60277 THEN 2"
    " WHEN u < 64291 THEN 3 WHEN u < 65296 THEN 4 ELSE 5 END"
)


@_q(
    "sample_poisson_bootstrap",
    f"""
    WITH reps AS (SELECT UNNEST(generate_series(0, {_BOOT_REPLICATES - 1}))
                    AS replicate),
    draws AS (
      SELECT r.replicate,
             CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents,
             ('0x' || SUBSTR(md5(CAST(o.o_orderkey AS VARCHAR)
                                 || ':' || CAST(r.replicate AS VARCHAR)),
                             1, 4))::BIGINT AS u
      FROM orders o CROSS JOIN reps r
    ), weighted AS (
      SELECT replicate, cents, {_POISSON_CASE} AS w FROM draws
    )
    SELECT replicate,
           CAST(SUM(w) AS BIGINT) AS n_draws,
           CAST(SUM(CAST(w AS BIGINT) * cents) AS BIGINT) AS drawn_cents,
           CAST(SUM(CAST(w AS BIGINT) * cents) AS DOUBLE)
             / CAST(SUM(w) AS BIGINT) / 100.0 AS est_mean_price
    FROM weighted
    GROUP BY replicate
    """,
)
def sample_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Poisson bootstrap: 8 replicate estimates of mean
    order value, each row drawn Poisson(1) times per replicate — THE
    scale technique for attaching confidence intervals to pipeline
    metrics (resampling n rows from n is impossible distributed;
    independent per-row Poisson(1) weights approximate it and stream).
    Weights come from md5(key:replicate) quantized against the
    hardcoded Poisson(1) CDF cut points (no exp() at query time, no
    engine RNG — reruns and engines agree bit-for-bit, the same
    derandomization as the hash-split A/B arms). Per-replicate sums
    are exact BIGINT cents; the spread of est_mean_price across the 8
    rows IS the standard-error estimate. One scan fanned x8 row-locally
    (a column tag, not a shuffle); one bounded-key aggregate."""
    orders = load_table(spark, sf_dir, "orders")
    reps = spark.range(_BOOT_REPLICATES).select(
        F.col("id").cast("int").alias("replicate")
    )
    draws = orders.crossJoin(F.broadcast(reps)).select(
        "replicate",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.col("o_orderkey").cast("string"),
                        F.col("replicate").cast("string"),
                    )
                ),
                1,
                4,
            ),
            16,
            10,
        )
        .cast("bigint")
        .alias("u"),
    )
    w = (
        F.when(F.col("u") < _POISSON_CUTS[0], 0)
        .when(F.col("u") < _POISSON_CUTS[1], 1)
        .when(F.col("u") < _POISSON_CUTS[2], 2)
        .when(F.col("u") < _POISSON_CUTS[3], 3)
        .when(F.col("u") < _POISSON_CUTS[4], 4)
        .otherwise(5)
    )
    weighted = draws.select("replicate", "cents", w.alias("w"))
    return weighted.groupBy("replicate").agg(
        F.sum("w").cast("bigint").alias("n_draws"),
        F.sum(F.col("w").cast("bigint") * F.col("cents"))
        .cast("bigint")
        .alias("drawn_cents"),
        (
            F.sum(F.col("w").cast("bigint") * F.col("cents"))
            .cast("bigint")
            .cast("double")
            / F.sum("w").cast("bigint")
            / F.lit(100.0)
        ).alias("est_mean_price"),
    )


@_q(
    "sample_curriculum_order",
    r"""
    WITH sized AS (
      SELECT doc_id,
             LEN(regexp_split_to_array(TRIM(LOWER(text)), '\s+')) AS n_tok,
             LEN(list_distinct(regexp_split_to_array(TRIM(LOWER(text)),
                                                     '\s+'))) AS n_types
      FROM documents WHERE TRIM(text) <> ''
    ), scored AS (
      SELECT doc_id,
             CAST(round(1000000.0 * n_types / n_tok) AS BIGINT) AS score_fp
      FROM sized
    ), ranked AS (
      SELECT doc_id, score_fp,
             ROW_NUMBER() OVER (ORDER BY score_fp, doc_id) AS rn,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM scored) AS n
      FROM scored
    )
    SELECT doc_id, score_fp,
           CAST(1 + ((rn - 1) * 10) // n AS BIGINT) AS band,
           CAST(ROW_NUMBER() OVER (
             ORDER BY 1 + ((rn - 1) * 10) // n DESC,
                      md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT)
             AS position
    FROM ranked
    """,
)
def sample_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum training order: score each document (lexical-diversity
    proxy, fixed-point so band edges are exact), cut the corpus into 10
    equal-count score bands, and emit a deterministic training order —
    highest band first, md5-shuffled WITHIN each band (ordered data
    hurts SGD; a seeded hash shuffle keeps reproducibility without
    RNG). This is the export that turns curation scores into an actual
    curriculum schedule. The equal-count banding is pure integer rank
    arithmetic (1 + (rn-1)*10 div n — no float quantiles to disagree
    on); at 100 TB the global ROW_NUMBERs become range-partitioned
    sorts over (band, md5) — Spark's TakeOrderedAndProject/rangesort
    path, the standard manifest-export shape (sample_export_shards
    then splits this order into shard files)."""

    docs = load_table(spark, sf_dir, "documents").filter(
        F.trim(F.col("text")) != ""
    )
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    sized = docs.select(
        "doc_id",
        F.size(toks).alias("n_tok"),
        F.size(F.array_distinct(toks)).alias("n_types"),
    )
    scored = sized.select(
        "doc_id",
        F.round(
            F.lit(1_000_000.0) * F.col("n_types") / F.col("n_tok")
        )
        .cast("bigint")
        .alias("score_fp"),
    )
    n = scored.count()
    rank_w = Window.orderBy("score_fp", "doc_id")
    ranked = scored.withColumn("rn", F.row_number().over(rank_w))
    band = (1 + F.expr(f"((rn - 1) * 10) div {n}")).cast("bigint")
    pos_w = Window.orderBy(
        band.desc(), F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return ranked.select(
        "doc_id",
        "score_fp",
        band.alias("band"),
        F.row_number().over(pos_w).cast("bigint").alias("position"),
    )


@_q(
    "sample_ipw_estimate",
    r"""
    WITH sized AS (
      SELECT doc_id, source,
             CASE WHEN TRIM(text) = '' THEN CAST(0 AS BIGINT)
                  ELSE CAST(LEN(regexp_split_to_array(TRIM(text), '\s+'))
                       AS BIGINT) END AS n_tok,
             SUBSTR(md5(CAST(doc_id AS VARCHAR)), 1, 2)
               < CASE WHEN source = 'src0' THEN '80' ELSE '1a' END
               AS sampled
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(SUM(n_tok) AS BIGINT) AS tokens_total,
           CAST(SUM(CASE WHEN sampled THEN 1 ELSE 0 END) AS BIGINT)
             AS n_sampled,
           CAST(SUM(CASE WHEN sampled THEN 1 ELSE 0 END) AS DOUBLE) * 256.0
             / CASE WHEN source = 'src0' THEN 128 ELSE 26 END AS est_total,
           (CAST(SUM(CASE WHEN sampled THEN 1 ELSE 0 END) AS DOUBLE) * 256.0
              / CASE WHEN source = 'src0' THEN 128 ELSE 26 END
            - CAST(COUNT(*) AS BIGINT)) / CAST(COUNT(*) AS BIGINT)
             AS rel_error_docs,
           (CAST(SUM(CASE WHEN sampled THEN n_tok ELSE 0 END) AS DOUBLE)
              * 256.0 / CASE WHEN source = 'src0' THEN 128 ELSE 26 END
            - CAST(SUM(n_tok) AS BIGINT)) / CAST(SUM(n_tok) AS BIGINT)
             AS rel_error_tokens
    FROM sized GROUP BY source
    """,
)
def sample_ipw_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-propensity-weighted estimation audit: reconstruct each
    source's TRUE document and token totals from only the
    deterministically sampled rows (weight = 1/keep-rate, the rates
    being the graded stratified sampler's own 128/256 and 26/256 hash
    thresholds) and report the relative estimation error against
    ground truth — the self-calibrating check that the sample +
    weights pipeline is unbiased BEFORE downstream metrics trust
    weighted statistics (rate drift or a wrong threshold shows up here
    as systematic bias, not noise). One scan: membership is the
    row-local md5 test, all masses exact BIGINT, estimates single
    double expressions."""
    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.when(F.trim(F.col("text")) == "", F.lit(0)).otherwise(
        F.size(F.split(F.trim(F.col("text")), r"\s+"))
    ).cast("bigint")
    sampled = _hash_bucket(F.col("doc_id")) < F.when(
        F.col("source") == "src0", "80"
    ).otherwise("1a")
    sized = docs.select(
        "source", n_tok.alias("n_tok"), sampled.alias("sampled")
    )
    buckets = F.when(F.col("source") == "src0", 128).otherwise(26)
    n_samp = F.sum(F.when(F.col("sampled"), 1).otherwise(0))
    t_samp = F.sum(F.when(F.col("sampled"), F.col("n_tok")).otherwise(0))
    n_tot = F.count("*").cast("bigint")
    t_tot = F.sum("n_tok").cast("bigint")
    est_docs = n_samp.cast("double") * 256.0 / buckets
    est_toks = t_samp.cast("double") * 256.0 / buckets
    return sized.groupBy("source").agg(
        n_tot.alias("n_total"),
        t_tot.alias("tokens_total"),
        n_samp.cast("bigint").alias("n_sampled"),
        est_docs.alias("est_total"),
        ((est_docs - n_tot) / n_tot).alias("rel_error_docs"),
        ((est_toks - t_tot) / t_tot).alias("rel_error_tokens"),
    )


@_q(
    "sample_systematic_interval",
    """
    WITH ranked AS (
      SELECT doc_id, n_chars,
             ROW_NUMBER() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
               AS rn
      FROM documents
    )
    SELECT doc_id, n_chars, rn
    FROM ranked WHERE rn % 20 = 1
    """,
)
def sample_systematic_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic (every k-th) sampling in a pseudorandom order: rank
    documents by md5(doc_id) — a deterministic shuffle both engines
    agree on — and keep exactly one of every 20 consecutive ranks.
    Complements the Bernoulli-style ``sample_hash_uniform`` (binomial
    size variance) with the fixed-spacing design: the sample size is
    exactly ceil(n/20) and strata that are contiguous in hash order
    are represented evenly — the survey-sampling variance win.
    Cluster note: the global ROW_NUMBER is a single-partition window —
    at 100 TB you derive rank from a per-partition offset + local rank
    (zipWithIndex shape) or keep hash-uniform sampling; graded here at
    the exact-semantics scale where the single sort is the honest
    plan."""

    docs = load_table(spark, sf_dir, "documents")
    ranked = docs.select(
        "doc_id",
        "n_chars",
        F.row_number()
        .over(Window.orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id"))
        .alias("rn"),
    )
    return ranked.filter(F.col("rn") % 20 == 1)


@_q(
    "sample_balanced_class_downsample",
    """
    WITH sizes AS (
      SELECT label, COUNT(*) AS n_orig FROM embeddings GROUP BY label
    ), m AS (SELECT MIN(n_orig) AS min_n FROM sizes),
    ranked AS (
      SELECT label, vec_id,
             ROW_NUMBER() OVER (
               PARTITION BY label
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
             ) AS rn
      FROM embeddings
    ), kept AS (
      SELECT r.label, r.vec_id FROM ranked r, m WHERE r.rn <= m.min_n
    )
    SELECT s.label,
           CAST(s.n_orig AS BIGINT) AS n_orig,
           CAST(COUNT(k.vec_id) AS BIGINT) AS n_kept,
           CAST(SUM(k.vec_id) AS BIGINT) AS kept_vec_id_sum
    FROM sizes s LEFT JOIN kept k ON k.label = s.label
    GROUP BY s.label, s.n_orig
    """,
)
def sample_balanced_class_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic class balancing — downsample every label to the
    minority-class size: rank members within each label by md5(vec_id)
    (the engine-portable pseudorandom order; vec_id tie-break) and keep
    exactly min-class-count rows per label. The graded output pins
    MEMBERSHIP, not just counts, via the kept-id checksum — a rate-based
    sampler that drifted one row would hash-mismatch. This is the
    undersampling half of class rebalancing (the oversampling half is
    temperature/mixture reweighting, sample_temperature_mixture); the
    rank window shuffles once on label, and the min size is a broadcast
    1-row aggregate."""

    emb = load_table(spark, sf_dir, "embeddings")
    sizes = emb.groupBy("label").agg(F.count("*").alias("n_orig"))
    m = sizes.agg(F.min("n_orig").alias("min_n"))
    ranked = emb.select(
        "label",
        "vec_id",
        F.row_number()
        .over(
            Window.partitionBy("label").orderBy(
                F.md5(F.col("vec_id").cast("string")), "vec_id"
            )
        )
        .alias("rn"),
    )
    kept = ranked.crossJoin(F.broadcast(m)).filter(
        F.col("rn") <= F.col("min_n")
    )
    return (
        sizes.join(kept.select("label", "vec_id"), "label", "left")
        .groupBy("label", "n_orig")
        .agg(
            F.count("vec_id").cast("bigint").alias("n_kept"),
            F.sum("vec_id").cast("bigint").alias("kept_vec_id_sum"),
        )
        .select(
            "label",
            F.col("n_orig").cast("bigint").alias("n_orig"),
            "n_kept",
            "kept_vec_id_sum",
        )
    )


@_q(
    "sample_target_encoding_loo",
    """
    WITH rows_t AS (
      SELECT o_orderpriority AS grp,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders
    ), g AS (
      SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_g,
             CAST(SUM(y) AS BIGINT) AS s_g
      FROM rows_t GROUP BY grp
    ), tot AS (
      SELECT CAST(SUM(n_g) AS BIGINT) AS n_tot,
             CAST(SUM(s_g) AS BIGINT) AS s_tot
      FROM g
    )
    SELECT g.grp, r.y, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST((1000000000 * (g.s_g - r.y)) // (g.n_g - 1) AS BIGINT)
             AS enc_loo_fp,
           CAST((1000000000 * (g.s_g * t.n_tot + 100 * t.s_tot))
                // ((g.n_g + 100) * t.n_tot) AS BIGINT)
             AS enc_smooth_fp
    FROM rows_t r
    JOIN g ON g.grp = r.grp
    CROSS JOIN tot t
    GROUP BY g.grp, r.y, g.s_g, g.n_g, t.n_tot, t.s_tot
    ORDER BY g.grp, r.y
    """,
)
def sample_target_encoding_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding with additive smoothing — the
    feature-engineering transform that turns a categorical into the
    target rate of its OTHER members, the standard leakage-free encoding
    for tree/linear models. Two encodings per (category, target) cell:
    enc_loo = (S_g - y) / (n_g - 1) and enc_smooth = (S_g + m*p_global)
    / (n_g + m) with m = 100, both held on the exact integer lattice via
    floor division (the rationals cleared by their denominators) so the
    oracle comparison is bit-exact. The encoding depends on a row only
    through (grp, y), so the per-row map collapses to one hash agg on
    (grp, y) plus a broadcast of the |groups|-bounded stats table — at
    100 TB this is a map-side-combinable count, never a row-level join.
    Denominator guards: n_g = 1 would zero-divide LOO; TPC-H priorities
    each hold thousands of rows, and the smoothed form is total-safe."""
    rows_t = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("grp"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    )
    g = rows_t.groupBy("grp").agg(
        F.count("*").cast("bigint").alias("n_g"),
        F.sum("y").cast("bigint").alias("s_g"),
    )
    tot = g.agg(
        F.sum("n_g").cast("bigint").alias("n_tot"),
        F.sum("s_g").cast("bigint").alias("s_tot"),
    )
    return (
        rows_t.join(F.broadcast(g), "grp")
        .crossJoin(F.broadcast(tot))
        .groupBy("grp", "y", "s_g", "n_g", "n_tot", "s_tot")
        .agg(F.count("*").cast("bigint").alias("n_rows"))
        .select(
            "grp",
            "y",
            "n_rows",
            F.expr(
                "CAST((1000000000 * (s_g - y)) div (n_g - 1) AS BIGINT)"
            ).alias("enc_loo_fp"),
            F.expr(
                "CAST((1000000000 * (s_g * n_tot + 100 * s_tot))"
                " div ((n_g + 100) * n_tot) AS BIGINT)"
            ).alias("enc_smooth_fp"),
        )
        .orderBy("grp", "y")
    )


def _kcenter_oracle_sql() -> str:
    """Unrolled greedy farthest-point (k-center) rounds — the tenth
    iterative algorithm under the oracle; MATERIALIZED CTEs per the
    fixed-point contract in docs/ITERATIVE_PARITY.md."""
    head = """
    WITH v AS MATERIALIZED (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS v6
      FROM embeddings WHERE embedding IS NOT NULL
    ), ex AS MATERIALIZED (
      SELECT vec_id, unnest(v6) AS val6, generate_subscripts(v6, 1) AS pos
      FROM v
    ), s1 AS MATERIALIZED (
      SELECT vec_id FROM v ORDER BY vec_id LIMIT 1
    ), ce1 AS MATERIALIZED (
      -- center components reduced FIRST: joining ex to ex on pos alone
      -- lets the planner build an N^2-per-dimension intermediate
      SELECT ce.pos, ce.val6 FROM ex ce JOIN s1 ON ce.vec_id = s1.vec_id
    ), m1 AS MATERIALIZED (
      SELECT e.vec_id,
             CAST(SUM((e.val6 - c.val6) * (e.val6 - c.val6)) AS BIGINT)
               AS mind
      FROM ex e JOIN ce1 c ON c.pos = e.pos
      GROUP BY e.vec_id
    )"""
    its = []
    for k in range(2, 5):
        its.append(f""", s{k} AS MATERIALIZED (
      SELECT vec_id, mind AS sel_d2 FROM m{k - 1}
      ORDER BY mind DESC, vec_id LIMIT 1
    ), ce{k} AS MATERIALIZED (
      SELECT ce.pos, ce.val6 FROM ex ce JOIN s{k} ON ce.vec_id = s{k}.vec_id
    ), d{k} AS MATERIALIZED (
      SELECT e.vec_id,
             CAST(SUM((e.val6 - c.val6) * (e.val6 - c.val6)) AS BIGINT)
               AS d2
      FROM ex e JOIN ce{k} c ON c.pos = e.pos
      GROUP BY e.vec_id
    ), m{k} AS MATERIALIZED (
      SELECT m.vec_id, LEAST(m.mind, d.d2) AS mind
      FROM m{k - 1} m JOIN d{k} d ON d.vec_id = m.vec_id
    )""")
    tail = """
    SELECT r.round, r.center_vec_id, r.sel_d2, r.coverage_after
    FROM (
      SELECT 1 AS round,
             (SELECT vec_id FROM s1) AS center_vec_id,
             CAST(0 AS BIGINT) AS sel_d2,
             (SELECT CAST(MAX(mind) AS BIGINT) FROM m1) AS coverage_after
      UNION ALL SELECT 2, (SELECT vec_id FROM s2),
             (SELECT CAST(sel_d2 AS BIGINT) FROM s2),
             (SELECT CAST(MAX(mind) AS BIGINT) FROM m2)
      UNION ALL SELECT 3, (SELECT vec_id FROM s3),
             (SELECT CAST(sel_d2 AS BIGINT) FROM s3),
             (SELECT CAST(MAX(mind) AS BIGINT) FROM m3)
      UNION ALL SELECT 4, (SELECT vec_id FROM s4),
             (SELECT CAST(sel_d2 AS BIGINT) FROM s4),
             (SELECT CAST(MAX(mind) AS BIGINT) FROM m4)
    ) r ORDER BY r.round
    """
    return head + "".join(its) + tail


@_q("sample_kcenter_coreset", _kcenter_oracle_sql())
def sample_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy farthest-point (k-center) coreset selection, graded — the
    tenth iterative algorithm under the oracle and the diverse-subset
    primitive curation pipelines use to seed labeling batches, pick
    distillation exemplars, or build an evaluation core set: start from
    the smallest vec_id, then 3 greedy rounds each adding the vector
    FARTHEST from the selected set (2-approximation to the optimal
    k-center cover, Gonzalez 1985). All distances are exact BIGINT
    squared-L2 on the 1e6 integer lattice (the kmeans/PCA convention),
    the argmax tie-breaks on vec_id, and each round reports the new
    center, its selection distance, and the corpus coverage radius
    after adding it (monotonically non-increasing — pinned in pytest).
    Per round at 100 TB: one broadcast of a single center vector, one
    row-local zip_with distance pass fused with a running LEAST, one
    max-reduce — no corpus shuffle, no |corpus| state."""

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    vec6 = materialize_reduced(
        emb.select("vec_id", micro6("embedding").alias("v6"))
    )
    d2_to = sq_l2(F.col("v6"), F.col("c6"))
    seed = vec6.orderBy("vec_id").limit(1)
    cur = materialize_reduced(
        vec6.crossJoin(
            F.broadcast(
                seed.select(F.col("vec_id").alias("cid"), F.col("v6").alias("c6"))
            )
        ).select("vec_id", "v6", d2_to.alias("mind"))
    )
    rows = seed.select(
        F.lit(1).alias("round"),
        F.col("vec_id").alias("center_vec_id"),
        F.lit(0).cast("bigint").alias("sel_d2"),
    ).crossJoin(
        cur.agg(F.max("mind").cast("bigint").alias("coverage_after"))
    )
    out = rows
    for k in range(2, 5):
        sel = cur.orderBy(F.col("mind").desc(), "vec_id").limit(1)
        center = sel.select(
            F.col("vec_id").alias("cid"),
            F.col("v6").alias("c6"),
            F.col("mind").alias("sel_d2"),
        )
        cur = materialize_reduced(
            cur.crossJoin(F.broadcast(center)).select(
                "vec_id",
                "v6",
                F.least(F.col("mind"), d2_to).alias("mind"),
            )
        )
        row = (
            center.select(
                F.lit(k).alias("round"),
                F.col("cid").alias("center_vec_id"),
                F.col("sel_d2").cast("bigint").alias("sel_d2"),
            )
            .crossJoin(
                cur.agg(
                    F.max("mind").cast("bigint").alias("coverage_after")
                )
            )
        )
        out = out.unionAll(row)
    return out.orderBy("round")


def _coverage_oracle_sql() -> str:
    """Unrolled greedy max-coverage rounds (eleventh iterative algorithm
    under the oracle); MATERIALIZED per docs/ITERATIVE_PARITY.md. The
    coverage universe is BIGRAMS — the fixture's unigram vocabulary is
    ~31 tokens and a single doc covers it, which degenerates the greedy
    argmax to an empty candidate set after round 1."""
    head = r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(LOWER(TRIM(text)), '\s+') AS arr
      FROM documents WHERE TRIM(text) <> ''
    ), tok AS MATERIALIZED (
      SELECT DISTINCT doc_id, arr[i] || ' ' || arr[i + 1] AS token
      FROM (
        SELECT doc_id, arr, UNNEST(generate_series(1, LEN(arr) - 1)) AS i
        FROM toks WHERE LEN(arr) >= 2
      )
    ), g1 AS MATERIALIZED (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS gain
      FROM tok GROUP BY doc_id
    ), s1 AS MATERIALIZED (
      SELECT doc_id, gain FROM g1 ORDER BY gain DESC, doc_id LIMIT 1
    ), cov1 AS MATERIALIZED (
      SELECT DISTINCT t.token FROM tok t JOIN s1 ON s1.doc_id = t.doc_id
    )"""
    its = []
    for k in range(2, 4):
        sel_union = " UNION ALL SELECT doc_id FROM ".join(
            f"s{j}" for j in range(1, k)
        )
        its.append(f""", g{k} AS MATERIALIZED (
      -- LEFT join so zero-gain candidates stay selectable (a doc whose
      -- bigrams are all covered must still be pickable when it is the
      -- only doc left)
      SELECT d.doc_id, CAST(COALESCE(c.gain, 0) AS BIGINT) AS gain
      FROM (SELECT DISTINCT doc_id FROM tok
            WHERE doc_id NOT IN (SELECT doc_id FROM {sel_union})) d
      LEFT JOIN (
        SELECT t.doc_id, COUNT(*) AS gain FROM tok t
        WHERE t.token NOT IN (SELECT token FROM cov{k - 1})
        GROUP BY t.doc_id
      ) c ON c.doc_id = d.doc_id
    ), s{k} AS MATERIALIZED (
      SELECT doc_id, gain FROM g{k} ORDER BY gain DESC, doc_id LIMIT 1
    ), cov{k} AS MATERIALIZED (
      SELECT token FROM cov{k - 1}
      UNION
      SELECT t.token FROM tok t JOIN s{k} ON s{k}.doc_id = t.doc_id
    )""")
    tail = """
    SELECT r.round, r.doc_id, r.gain, r.covered_total FROM (
      SELECT 1 AS round, (SELECT doc_id FROM s1) AS doc_id,
             (SELECT gain FROM s1) AS gain,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM cov1) AS covered_total
      UNION ALL SELECT 2, (SELECT doc_id FROM s2), (SELECT gain FROM s2),
             (SELECT CAST(COUNT(*) AS BIGINT) FROM cov2)
      UNION ALL SELECT 3, (SELECT doc_id FROM s3), (SELECT gain FROM s3),
             (SELECT CAST(COUNT(*) AS BIGINT) FROM cov3)
    ) r ORDER BY r.round
    """
    return head + "".join(its) + tail


@_q("sample_greedy_coverage", _coverage_oracle_sql())
def sample_greedy_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy maximum-coverage document selection, graded — the eleventh
    iterative algorithm under the oracle and the submodular-selection
    primitive behind "pick the K docs that cover the most vocabulary"
    (labeling-batch seeding, prompt-library curation, test-suite
    minimization all reduce to it; greedy is the classic (1 - 1/e)
    approximation, Nemhauser 1978). The coverage universe is distinct
    BIGRAMS (the fixture's ~31-token unigram vocabulary is covered by a
    single doc, degenerating the greedy argmax). Three rounds: each
    picks the doc adding the most UNCOVERED bigrams (tie -> smallest
    doc_id),
    reporting marginal gain and cumulative coverage — gains are
    non-increasing (submodularity, pinned in pytest). Per round at
    scale: one anti-join of the token table against the covered set
    (broadcast/bloom), one gain agg, one top-1 — no quadratic work; the
    covered set is vocabulary-bounded."""
    from pyspark.sql import functions as SF

    docs = load_table(spark, sf_dir, "documents").filter(
        F.trim(F.col("text")) != ""
    )
    arr = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    bigrams = F.expr(
        "zip_with(slice(tokens, 1, size(tokens) - 1),"
        "         slice(tokens, 2, size(tokens) - 1),"
        "         (a, b) -> concat(a, ' ', b))"
    )
    tok = materialize_reduced(
        docs.select("doc_id", arr.alias("tokens"))
        .filter(F.size("tokens") >= 2)
        .select("doc_id", F.explode(bigrams).alias("token"))
        .distinct()
    )
    covered = None
    selected = []
    out = None
    all_docs = materialize_reduced(tok.select("doc_id").distinct())
    if all_docs.limit(1).count() == 0:
        # empty corpus: zero rounds, schema-stable empty result
        return docs.sparkSession.range(0).select(
            F.lit(0).cast("int").alias("round"),
            F.lit(0).cast("bigint").alias("doc_id"),
            F.lit(0).cast("bigint").alias("gain"),
            F.lit(0).cast("bigint").alias("covered_total"),
        )
    for k in range(1, 4):
        cand = tok
        if covered is not None:
            # no broadcast hint (r16 adjudication of the r15 suspect):
            # the covered set IS bounded by <= 3 docs' vocabularies, but
            # forcing a per-round broadcast build+collect added latency
            # in both r15 driver windows; the planner already broadcasts
            # when its size estimate clears the threshold, and at scale
            # the estimate — not a hardcoded hint — is the safer gate
            cand = tok.join(covered, "token", "left_anti")
        gains = cand.groupBy("doc_id").agg(
            F.count("*").cast("bigint").alias("gain")
        )
        # LEFT join against every unselected doc so zero-gain candidates
        # stay selectable (mirrors the oracle)
        pool = all_docs
        if selected:
            sel_df = local_frame(
                pool.sparkSession, [(d,) for d in selected], "doc_id long"
            )
            pool = pool.join(F.broadcast(sel_df), "doc_id", "left_anti")
        g = pool.join(gains, "doc_id", "left").select(
            "doc_id", F.coalesce(F.col("gain"), F.lit(0)).alias("gain")
        )
        pick = g.orderBy(F.col("gain").desc(), "doc_id").limit(1).collect()[0]
        selected.append(pick["doc_id"])
        new_tokens = tok.filter(F.col("doc_id") == pick["doc_id"]).select(
            "token"
        )
        covered = materialize_reduced(
            new_tokens
            if covered is None
            else covered.unionAll(new_tokens).distinct()
        )
        row_df = docs.sparkSession.range(1).select(
            F.lit(k).cast("int").alias("round"),
            F.lit(pick["doc_id"]).cast("bigint").alias("doc_id"),
            F.lit(int(pick["gain"])).cast("bigint").alias("gain"),
        ).crossJoin(
            covered.agg(
                SF.count("*").cast("bigint").alias("covered_total")
            )
        )
        out = row_df if out is None else out.unionAll(row_df)
    return out.orderBy("round")


# --- round-11 wave-2 additions (docs/ROADMAP_r11.md #35-#37) ----------------


@_q(
    "sample_group_holdout_split",
    f"""
    WITH assigned AS (
      SELECT user_id, {sql_split_case("user_id")} AS split
      FROM (SELECT DISTINCT user_id FROM events)
    ), ev AS (
      SELECT e.user_id, a.split
      FROM events e JOIN assigned a ON a.user_id = e.user_id
    ), leak AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS leaked_users FROM (
        SELECT user_id FROM ev GROUP BY user_id
        HAVING COUNT(DISTINCT split) > 1
      )
    )
    SELECT ev.split,
           CAST(COUNT(DISTINCT ev.user_id) AS BIGINT) AS n_users,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           l.leaked_users
    FROM ev CROSS JOIN leak l
    GROUP BY ev.split, l.leaked_users
    """,
)
def sample_group_holdout_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-level train/val/test holdout over events: the split hashes
    the GROUP key (user_id) through the repo-wide split contract, so
    every event of a user lands in one split — the leakage-free split
    every behavioral model needs (row-level hashing puts one user's
    history on both sides of the fence). The report carries a
    structural leakage audit column: users observed in more than one
    split (zero by construction, COMPUTED not asserted, so a future
    contract regression surfaces in the graded output). One distinct
    reduction + a broadcastable assignment join; membership is a pure
    hash function, stable under repartitioning and incremental
    ingestion."""
    ev = load_table(spark, sf_dir, "events")
    assigned = (
        ev.select("user_id")
        .distinct()
        .select("user_id", split_assign(F.col("user_id")).alias("split"))
    )
    joined = ev.select("user_id").join(F.broadcast(assigned), "user_id")
    leak = (
        joined.groupBy("user_id")
        .agg(F.countDistinct("split").alias("k"))
        .filter(F.col("k") > 1)
        .agg(F.count("*").cast("bigint").alias("leaked_users"))
    )
    return (
        joined.crossJoin(F.broadcast(leak))
        .groupBy("split", "leaked_users")
        .agg(
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            F.count("*").cast("bigint").alias("n_events"),
        )
        .select("split", "n_users", "n_events", "leaked_users")
    )


@_q(
    "sample_inverse_frequency_weights",
    """
    WITH cls AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY lang
    ), inv AS (
      SELECT lang, n_docs,
             CAST(1000000000000 // n_docs AS BIGINT) AS inv_fp
      FROM cls
    ), tot AS (SELECT CAST(SUM(inv_fp) AS BIGINT) AS t FROM inv),
    parts AS (
      SELECT lang, n_docs, inv_fp,
             (inv_fp * 1000000) // (SELECT t FROM tot) AS floor_ppm,
             (inv_fp * 1000000) % (SELECT t FROM tot) AS remainder
      FROM inv
    ), short AS (
      SELECT 1000000 - CAST(SUM(floor_ppm) AS BIGINT) AS k FROM parts
    )
    SELECT lang, n_docs, inv_fp,
           CAST(floor_ppm AS BIGINT) AS floor_ppm,
           CAST(floor_ppm + CASE WHEN rk <= (SELECT k FROM short)
                                 THEN 1 ELSE 0 END AS BIGINT)
             AS allocated_ppm,
           CAST(floor_ppm + CASE WHEN rk <= (SELECT k FROM short)
                                 THEN 1 ELSE 0 END AS DOUBLE)
             / 1000000.0 AS class_weight
    FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY remainder DESC, lang) AS rk
      FROM parts
    )
    """,
)
def sample_inverse_frequency_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-frequency class weights over document languages,
    normalized to EXACTLY one million ppm by largest-remainder
    apportionment — the rebalancing table a skewed-class sampler
    consumes (rare languages get proportionally larger sampling mass;
    independent rounding would drift off-budget). The inverse goes
    through a 1e12 fixed-point integer division (1e12 div n — exact and
    identical in both engines; no float reciprocal anywhere), then the
    Hamilton machinery from agg_largest_remainder_percent with a
    deterministic lang tie-break. One reduction to |langs| rows;
    everything downstream is exact integers plus the final
    weight-as-double rendering."""

    cls = (
        load_table(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
    )
    inv = cls.select(
        "lang",
        "n_docs",
        F.expr("1000000000000 div n_docs").cast("bigint").alias("inv_fp"),
    )
    tot = inv.agg(F.sum("inv_fp").cast("bigint").alias("t"))
    parts = inv.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        "inv_fp",
        F.expr("(inv_fp * 1000000) div t").alias("floor_ppm"),
        F.expr("(inv_fp * 1000000) % t").alias("remainder"),
    )
    short = parts.agg(
        (F.lit(1000000) - F.sum("floor_ppm")).cast("bigint").alias("k")
    )
    w = Window.orderBy(F.col("remainder").desc(), "lang")
    ranked = parts.withColumn("rk", F.row_number().over(w)).crossJoin(
        F.broadcast(short)
    )
    allocated = F.col("floor_ppm") + F.when(
        F.col("rk") <= F.col("k"), 1
    ).otherwise(0)
    return ranked.select(
        "lang",
        "n_docs",
        "inv_fp",
        F.col("floor_ppm").cast("bigint").alias("floor_ppm"),
        allocated.cast("bigint").alias("allocated_ppm"),
        (allocated.cast("double") / 1000000.0).alias("class_weight"),
    )


@_q(
    "sample_sliding_window_backtest",
    """
    WITH o AS (
      SELECT YEAR(o_orderdate) * 12 + (MONTH(o_orderdate) - 1) AS mnum
      FROM orders
    ), bounds AS (
      SELECT CAST(MIN(mnum) AS BIGINT) AS m_min,
             CAST(MAX(mnum) - MIN(mnum) + 1 AS BIGINT) AS span
      FROM o
    ), folds AS (
      SELECT CAST(x AS BIGINT) AS fold FROM generate_series(1, 4) t(x)
    ), edges AS (
      SELECT f.fold,
             b.m_min + (b.span * f.fold) // 5 - 1 AS train_end,
             b.m_min + (b.span * (f.fold + 1)) // 5 - 1 AS test_end
      FROM folds f CROSS JOIN bounds b
    ), labeled AS (
      SELECT e.fold,
             CASE WHEN o.mnum <= e.train_end THEN 'train'
                  WHEN o.mnum <= e.test_end THEN 'test'
                  ELSE 'future' END AS role,
             o.mnum
      FROM o CROSS JOIN edges e
    )
    SELECT fold, role,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(DISTINCT mnum) AS BIGINT) AS n_months,
           CAST(MIN(mnum) AS BIGINT) AS first_month,
           CAST(MAX(mnum) AS BIGINT) AS last_month
    FROM labeled GROUP BY fold, role
    """,
)
def sample_sliding_window_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expanding-window backtest fold assignment over order months —
    temporal cross-validation without shuffle leakage: fold k trains on
    the first k/5 of the month range and tests on the next fifth, so
    every test row is strictly later than all of its training data and
    later folds subsume earlier training windows. Month boundaries are
    exact integer month numbers (year*12+month), fold edges are integer
    div over the bounded month span, and each order is labeled per fold
    by two comparisons against the broadcast 4-row edge table. The
    report is the fold x role census with month extents — the shape a
    training scheduler consumes directly."""
    o = load_table(spark, sf_dir, "orders").select(
        (
            F.year("o_orderdate") * 12 + (F.month("o_orderdate") - 1)
        ).alias("mnum")
    )
    bounds = o.agg(
        F.min("mnum").cast("bigint").alias("m_min"),
        (F.max("mnum") - F.min("mnum") + 1).cast("bigint").alias("span"),
    )
    folds = spark.range(1, 5).select(F.col("id").alias("fold"))
    edges = folds.crossJoin(F.broadcast(bounds)).select(
        "fold",
        F.expr("m_min + (span * fold) div 5 - 1").alias("train_end"),
        F.expr("m_min + (span * (fold + 1)) div 5 - 1").alias("test_end"),
    )
    labeled = o.crossJoin(F.broadcast(edges)).select(
        "fold",
        F.when(F.col("mnum") <= F.col("train_end"), "train")
        .when(F.col("mnum") <= F.col("test_end"), "test")
        .otherwise("future")
        .alias("role"),
        "mnum",
    )
    return labeled.groupBy("fold", "role").agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.countDistinct("mnum").cast("bigint").alias("n_months"),
        F.min("mnum").cast("bigint").alias("first_month"),
        F.max("mnum").cast("bigint").alias("last_month"),
    )


# --- round 12: quota sampling ----------------------------------------------

# Fixed per-segment quotas for sample_quota_priority — literals shared by
# both engine sides; retuning re-deals the sample (breaking change, same
# contract discipline as the split thresholds in helpers.py).
SEGMENT_QUOTAS = {
    "AUTOMOBILE": 400,
    "BUILDING": 250,
    "FURNITURE": 150,
    "HOUSEHOLD": 80,
    "MACHINERY": 40,
}


def _quota_case_sql() -> str:
    whens = " ".join(
        f"WHEN '{seg}' THEN {q}" for seg, q in SEGMENT_QUOTAS.items()
    )
    return f"CASE c_mktsegment {whens} ELSE 0 END"


ORACLES["sample_quota_priority"] = f"""
    WITH ranked AS (
      SELECT c_custkey, c_mktsegment,
             CAST({_quota_case_sql()} AS BIGINT) AS quota,
             ROW_NUMBER() OVER (PARTITION BY c_mktsegment
               ORDER BY md5(CAST(c_custkey AS VARCHAR)), c_custkey) AS pri
      FROM customer
    )
    SELECT c_mktsegment AS segment,
           MIN(quota) AS quota,
           CAST(COUNT(*) AS BIGINT) AS n_available,
           CAST(COUNT(CASE WHEN pri <= quota THEN 1 END) AS BIGINT)
             AS n_sampled,
           CASE WHEN MIN(quota) > 0 THEN
             CAST(COUNT(CASE WHEN pri <= quota THEN 1 END) AS DOUBLE)
             / CAST(MIN(quota) AS DOUBLE) END AS fill_rate,
           GREATEST(CAST(0 AS BIGINT),
             CAST(COUNT(*) AS BIGINT) - MIN(quota)) AS spillover,
           CAST(SUM(CASE WHEN pri <= quota THEN c_custkey ELSE 0 END)
                AS BIGINT) AS sample_key_checksum
    FROM ranked GROUP BY c_mktsegment
"""


@_q("sample_quota_priority")
def sample_quota_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quota sampling: fill FIXED per-segment quotas (shared literal
    table) by deterministic hash priority — row_number over
    md5(custkey) within each market segment, custkey tie-break — the
    uneven-quota generalization of the graded exact-k-per-stratum
    entry. Reports per segment: availability, fill, fill rate
    (NULL-guarded for a zero quota), spillover (demand beyond quota),
    and a BIGINT checksum of the SELECTED keys so the grade pins the
    actual sample membership, not just its size. New rows self-assign
    stable priorities (pure hash), so re-running on a grown corpus
    only ever appends lower-priority candidates. One window per
    segment partition — the partition key is the segment, bounded
    cardinality, unskewed fixture."""

    quota = F.lit(None).cast("bigint")
    expr = None
    for seg, q in SEGMENT_QUOTAS.items():
        cond = F.col("c_mktsegment") == seg
        expr = (
            F.when(cond, q) if expr is None else expr.when(cond, q)
        )
    quota = expr.otherwise(0).cast("bigint")
    ranked = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        quota.alias("quota"),
        F.row_number()
        .over(
            Window.partitionBy("c_mktsegment").orderBy(
                F.md5(F.col("c_custkey").cast("string")), F.col("c_custkey")
            )
        )
        .alias("pri"),
    )
    picked = F.col("pri") <= F.col("quota")
    return ranked.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.min("quota").alias("quota"),
        F.count("*").cast("bigint").alias("n_available"),
        F.count(F.when(picked, 1)).cast("bigint").alias("n_sampled"),
        F.when(
            F.min("quota") > 0,
            F.count(F.when(picked, 1)).cast("double")
            / F.min("quota").cast("double"),
        ).alias("fill_rate"),
        F.greatest(
            F.lit(0).cast("bigint"),
            (F.count("*") - F.min("quota")).cast("bigint"),
        ).alias("spillover"),
        F.sum(F.when(picked, F.col("c_custkey")).otherwise(0))
        .cast("bigint")
        .alias("sample_key_checksum"),
    )


# --- round 13: allocation comparison, fixed-size SWOR panel ----------------


@_q(
    "sample_stratified_neyman_vs_proportional",
    """
    WITH c AS (
      SELECT o_orderpriority AS stratum,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ), m AS (
      SELECT stratum, CAST(COUNT(*) AS BIGINT) AS n_h,
             CAST(SUM(cents) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS mu
      FROM c GROUP BY stratum
    ), g AS (
      SELECT c.stratum, m.n_h,
             CAST(SUM(c.cents - m.mu) AS BIGINT) AS ds,
             CAST(CAST(SUM(CAST(c.cents - m.mu AS DECIMAL(38,0))
                           * (c.cents - m.mu)) AS DECIMAL(38,0))
                  AS BIGINT) AS ds2
      FROM c JOIN m ON m.stratum = c.stratum
      GROUP BY c.stratum, m.n_h
    ), w AS (
      SELECT stratum, n_h,
             CAST(round(n_h * SQRT((CAST(ds2 AS DOUBLE)
                   - CAST(ds AS DOUBLE) * CAST(ds AS DOUBLE) / n_h)
                   / n_h)) AS BIGINT) AS wgt,
             (CAST(ds2 AS DOUBLE)
              - CAST(ds AS DOUBLE) * CAST(ds AS DOUBLE) / n_h)
             / n_h AS var_cents
      FROM g
    ), alloc AS (
      SELECT stratum, n_h, var_cents,
             10000 * wgt // SUM(wgt) OVER () AS ney_base,
             10000 * wgt % SUM(wgt) OVER () AS ney_rem,
             10000 * n_h // SUM(n_h) OVER () AS pro_base,
             10000 * n_h % SUM(n_h) OVER () AS pro_rem
      FROM w
    ), ranked AS (
      SELECT *,
             ROW_NUMBER() OVER (ORDER BY ney_rem DESC, stratum) AS ney_rk,
             ROW_NUMBER() OVER (ORDER BY pro_rem DESC, stratum) AS pro_rk,
             10000 - SUM(ney_base) OVER () AS ney_left,
             10000 - SUM(pro_base) OVER () AS pro_left
      FROM alloc
    ), final AS (
      SELECT stratum, n_h, var_cents,
             CAST(ney_base + CASE WHEN ney_rk <= ney_left THEN 1 ELSE 0 END
                  AS BIGINT) AS neyman_n,
             CAST(pro_base + CASE WHEN pro_rk <= pro_left THEN 1 ELSE 0 END
                  AS BIGINT) AS proportional_n
      FROM ranked
    )
    SELECT stratum, n_h, neyman_n, proportional_n,
           CASE WHEN neyman_n > 0 THEN
             CAST(n_h AS DOUBLE) * CAST(n_h AS DOUBLE) * var_cents
             / CAST(neyman_n AS DOUBLE) END AS var_term_neyman,
           CASE WHEN proportional_n > 0 THEN
             CAST(n_h AS DOUBLE) * CAST(n_h AS DOUBLE) * var_cents
             / CAST(proportional_n AS DOUBLE) END AS var_term_proportional
    FROM final
    """,
)
def sample_stratified_neyman_vs_proportional(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Neyman vs proportional allocation of a 10,000-row budget,
    side-by-side with each plan's realized variance contribution
    N_h^2 S_h^2 / n_h — the table that JUSTIFIES Neyman (its total is
    provably minimal for the budget). Allocations are EXACT integers
    via the largest-remainder method on BIGINT weights (base = floor
    of the integer-div share, the leftover seats go to the largest
    division remainders with the deterministic (remainder DESC,
    stratum) rank) so the two columns always sum to exactly 10,000;
    the per-stratum variance reuses the graded Neyman entry's
    centered-moment machinery verbatim. Divisions NULL-guarded for
    zero allocations (structurally impossible for non-degenerate
    strata, guarded anyway). Bounded |strata| table end-to-end."""

    c = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("stratum"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    m = c.groupBy("stratum").agg(
        F.count("*").cast("bigint").alias("n_h"),
        F.expr(
            "CAST(SUM(cents) AS BIGINT) div CAST(COUNT(*) AS BIGINT)"
        ).alias("mu"),
    )
    d = F.col("cents") - F.col("mu")
    g = (
        c.join(F.broadcast(m), "stratum")
        .groupBy("stratum", "n_h")
        .agg(
            F.sum(d).cast("bigint").alias("ds"),
            F.sum(d.cast("decimal(38,0)") * d)
            .cast("decimal(38,0)")
            .cast("bigint")
            .alias("ds2"),
        )
    )
    n_h = F.col("n_h")
    ds, ds2 = F.col("ds").cast("double"), F.col("ds2").cast("double")
    var_cents = (ds2 - ds * ds / n_h) / n_h
    w = g.select(
        "stratum",
        "n_h",
        F.round(n_h * F.sqrt(var_cents)).cast("bigint").alias("wgt"),
        var_cents.alias("var_cents"),
    )
    tot = Window.partitionBy()
    alloc = w.select(
        "stratum",
        "n_h",
        "var_cents",
        F.expr("10000 * wgt").alias("ney_num"),
        F.sum("wgt").over(tot).alias("ney_den"),
        F.expr("10000 * n_h").alias("pro_num"),
        F.sum("n_h").over(tot).alias("pro_den"),
    ).select(
        "stratum",
        "n_h",
        "var_cents",
        F.expr("ney_num div ney_den").alias("ney_base"),
        F.expr("ney_num % ney_den").alias("ney_rem"),
        F.expr("pro_num div pro_den").alias("pro_base"),
        F.expr("pro_num % pro_den").alias("pro_rem"),
    )
    ranked = alloc.select(
        "*",
        F.row_number()
        .over(Window.orderBy(F.col("ney_rem").desc(), "stratum"))
        .alias("ney_rk"),
        F.row_number()
        .over(Window.orderBy(F.col("pro_rem").desc(), "stratum"))
        .alias("pro_rk"),
        (F.lit(10000) - F.sum("ney_base").over(tot)).alias("ney_left"),
        (F.lit(10000) - F.sum("pro_base").over(tot)).alias("pro_left"),
    )
    ney_n = (
        F.col("ney_base")
        + F.when(F.col("ney_rk") <= F.col("ney_left"), 1).otherwise(0)
    ).cast("bigint")
    pro_n = (
        F.col("pro_base")
        + F.when(F.col("pro_rk") <= F.col("pro_left"), 1).otherwise(0)
    ).cast("bigint")
    final = ranked.select(
        "stratum",
        "n_h",
        "var_cents",
        ney_n.alias("neyman_n"),
        pro_n.alias("proportional_n"),
    )
    nd = F.col("n_h").cast("double")
    return final.select(
        "stratum",
        "n_h",
        "neyman_n",
        "proportional_n",
        F.when(
            F.col("neyman_n") > 0,
            nd * nd * F.col("var_cents") / F.col("neyman_n").cast("double"),
        ).alias("var_term_neyman"),
        F.when(
            F.col("proportional_n") > 0,
            nd
            * nd
            * F.col("var_cents")
            / F.col("proportional_n").cast("double"),
        ).alias("var_term_proportional"),
    )


SWOR_PANEL_SIZE = 500


@_q(
    "sample_deterministic_swor_panel",
    f"""
    WITH ranked AS (
      SELECT c_custkey, c_mktsegment
      FROM customer
      ORDER BY md5(CAST(c_custkey AS VARCHAR)), c_custkey
      LIMIT {SWOR_PANEL_SIZE}
    ), avail AS (
      SELECT c_mktsegment AS segment,
             CAST(COUNT(*) AS BIGINT) AS n_available
      FROM customer GROUP BY c_mktsegment
    )
    SELECT a.segment, a.n_available,
           CAST(COALESCE(COUNT(r.c_custkey), 0) AS BIGINT) AS n_selected,
           CAST(COALESCE(SUM(r.c_custkey), 0) AS BIGINT)
             AS sample_key_checksum
    FROM avail a
    LEFT JOIN ranked r ON r.c_mktsegment = a.segment
    GROUP BY a.segment, a.n_available
    """,
)
def sample_deterministic_swor_panel(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Fixed-size sampling WITHOUT replacement: the md5-lowest
    {SWOR_PANEL_SIZE} customers form the panel (exact GLOBAL size, the
    quota entry's hash-priority order without per-segment quotas),
    reported per segment with a BIGINT membership checksum so the
    grade pins exactly WHO is in the panel. The global top-k by hash
    compiles to TakeOrderedAndProject (per-partition heaps, k rows to
    the driver — the reservoir-twin plan shape, never a global sort),
    and membership is reproducible on any engine from md5 alone: a
    grown corpus re-deals nothing, it only competes for the same
    {SWOR_PANEL_SIZE} seats. Segments outside the panel report
    zero-with-checksum-0 via the LEFT join (total, no division)."""
    cust = load_table(spark, sf_dir, "customer")
    ranked = (
        cust.select("c_custkey", "c_mktsegment")
        .orderBy(F.md5(F.col("c_custkey").cast("string")), "c_custkey")
        .limit(SWOR_PANEL_SIZE)
    )
    avail = cust.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count("*").cast("bigint").alias("n_available")
    )
    r = ranked.select(
        F.col("c_mktsegment").alias("r_segment"),
        F.col("c_custkey").alias("r_key"),
    )
    return (
        avail.join(r, F.col("segment") == F.col("r_segment"), "left")
        .groupBy("segment", "n_available")
        .agg(
            F.coalesce(F.count("r_key"), F.lit(0))
            .cast("bigint")
            .alias("n_selected"),
            F.coalesce(F.sum("r_key"), F.lit(0))
            .cast("bigint")
            .alias("sample_key_checksum"),
        )
    )



# --- round 14: importance-weighted estimation under a tilted design -------


@_q(
    "sample_importance_reweighted_mean",
    """
    WITH pop AS (
      SELECT o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
               AS urgent,
             ('0x' || substr(md5('irw:' || CAST(o_orderkey AS VARCHAR)),
              1, 15))::BIGINT % 10 AS h
      FROM orders
    ), sampled AS (
      SELECT cents, urgent,
             CASE WHEN urgent = 1 THEN 10 ELSE 90 END AS w9
      FROM pop
      WHERE (urgent = 1 AND h < 9) OR (urgent = 0 AND h < 1)
    ), est AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_sample,
             CAST(SUM(urgent) AS BIGINT) AS n_sample_urgent,
             CAST(SUM(cents * w9) AS BIGINT) AS num_x9,
             CAST(SUM(w9) AS BIGINT) AS den_x9,
             CAST(SUM(cents) AS BIGINT) AS cents_sum
      FROM sampled
    ), truth AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_pop,
             CAST(SUM(cents) AS BIGINT) AS pop_cents
      FROM pop
    )
    SELECT t.n_pop, e.n_sample, e.n_sample_urgent,
           CASE WHEN e.den_x9 > 0 THEN
             CAST(e.num_x9 AS DOUBLE) / CAST(e.den_x9 AS DOUBLE) / 100.0
           END AS ht_mean_dollars,
           CASE WHEN e.n_sample > 0 THEN
             CAST(e.cents_sum AS DOUBLE) / CAST(e.n_sample AS DOUBLE)
               / 100.0
           END AS naive_mean_dollars,
           CASE WHEN t.n_pop > 0 THEN
             CAST(t.pop_cents AS DOUBLE) / CAST(t.n_pop AS DOUBLE) / 100.0
           END AS true_mean_dollars
    FROM est e CROSS JOIN truth t
    """,
)
def sample_importance_reweighted_mean(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Self-normalized importance (Hajek) estimate of mean order value
    under a deliberately TILTED hash design — urgent orders sampled at
    p = 0.9, everything else at p = 0.1 (deterministic md5 membership,
    reshuffle-stable) — next to the naive sample mean it corrects and
    the full-population truth (ROADMAP_r14 #42: the estimator audit
    that prices ignoring the weights). Weights 1/p enter on a common
    x9 integer lattice (10/9 -> 10, 10 -> 90), so numerator and
    denominator are exact BIGINT sums (budget: cents * 90 * 1e10 rows
    ~ 9e18 at 100 TB — the edge of int64, documented; shard the sum
    if the corpus grows past it) and the estimate is one guarded
    division. One scan, map-side combinable."""

    pop = load_table(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias(
            "cents"
        ),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .otherwise(0)
        .alias("urgent"),
        (
            phash60(
                F.concat(F.lit("irw:"), F.col("o_orderkey").cast("string"))
            )
            % 10
        ).alias("h"),
    )
    pop = materialize_reduced(pop)
    sampled = pop.filter(
        ((F.col("urgent") == 1) & (F.col("h") < 9))
        | ((F.col("urgent") == 0) & (F.col("h") < 1))
    ).select(
        "cents",
        "urgent",
        F.when(F.col("urgent") == 1, 10).otherwise(90).alias("w9"),
    )
    est = sampled.agg(
        F.count("*").cast("bigint").alias("n_sample"),
        F.sum("urgent").cast("bigint").alias("n_sample_urgent"),
        F.sum(F.col("cents") * F.col("w9")).cast("bigint").alias("num_x9"),
        F.sum("w9").cast("bigint").alias("den_x9"),
        F.sum("cents").cast("bigint").alias("cents_sum"),
    )
    truth = pop.agg(
        F.count("*").cast("bigint").alias("n_pop"),
        F.sum("cents").cast("bigint").alias("pop_cents"),
    )
    return est.crossJoin(F.broadcast(truth)).select(
        "n_pop",
        "n_sample",
        "n_sample_urgent",
        F.when(
            F.col("den_x9") > 0,
            F.col("num_x9").cast("double")
            / F.col("den_x9").cast("double")
            / 100.0,
        ).alias("ht_mean_dollars"),
        F.when(
            F.col("n_sample") > 0,
            F.col("cents_sum").cast("double")
            / F.col("n_sample").cast("double")
            / 100.0,
        ).alias("naive_mean_dollars"),
        F.when(
            F.col("n_pop") > 0,
            F.col("pop_cents").cast("double")
            / F.col("n_pop").cast("double")
            / 100.0,
        ).alias("true_mean_dollars"),
    )


# --- round 15 wave-2 pre-build: dedup-aware effective sample size ----------


@_q(
    "sample_dedup_aware_ess",
    """
    WITH fp AS (
      SELECT MD5(LOWER(TRIM(text))) AS fingerprint FROM documents
    ), clusters AS (
      SELECT fingerprint, CAST(COUNT(*) AS BIGINT) AS c
      FROM fp GROUP BY fingerprint
    ), agg AS (
      SELECT CAST(SUM(c) AS BIGINT) AS n_docs,
             CAST(COUNT(*) AS BIGINT) AS n_clusters,
             CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT)
               AS n_dup_docs,
             CAST(SUM(1000000000 // c) AS BIGINT) AS sum_inv_size_fp
      FROM clusters
    )
    SELECT n_docs, n_clusters, n_dup_docs, sum_inv_size_fp,
           CASE WHEN sum_inv_size_fp > 0 THEN
             CAST(n_clusters AS DOUBLE) * CAST(n_clusters AS DOUBLE)
             * 1000000000.0 / CAST(sum_inv_size_fp AS DOUBLE)
           END AS ess,
           CASE WHEN n_docs > 0 AND sum_inv_size_fp > 0 THEN
             CAST(n_clusters AS DOUBLE) * CAST(n_clusters AS DOUBLE)
             * 1000000000.0 / CAST(sum_inv_size_fp AS DOUBLE)
             / CAST(n_docs AS DOUBLE)
           END AS ess_ratio
    FROM agg
    """,
)
def sample_dedup_aware_ess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effective sample size under inverse-cluster-size weighting: give
    every doc in an exact-dup cluster of size c the weight 1/c, then
    ESS = (sum w)^2 / sum w^2 — what deduplication buys the estimator
    (sum w = n_clusters exactly; sum w^2 = sum 1/c). The 1/c terms
    ride the documented 1e-9 fixed-point lattice (1e9 div c — exact
    integer floor, both engines agree on positive operands), so the
    whole reduction is BIGINT until the final ess = n_clusters^2 *
    1e9 / sum_fp, pivoted cast-per-factor (n_clusters^2 can pass 2^63
    at corpus scale in doubles only). ess_ratio = ess/n_docs is the
    headline: 1.0 = dedup changes nothing, low = heavy duplication.
    Clusters are MD5(LOWER(TRIM(text))) groups — the graded exact-
    dedup fingerprint. One fingerprint shuffle."""
    df = load_table(spark, sf_dir, "documents")
    fp = df.select(
        F.md5(F.lower(F.trim(F.col("text")))).alias("fingerprint")
    )
    clusters = fp.groupBy("fingerprint").agg(
        F.count("*").cast("bigint").alias("c")
    )
    agg = clusters.agg(
        F.sum("c").cast("bigint").alias("n_docs"),
        F.count("*").cast("bigint").alias("n_clusters"),
        F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("n_dup_docs"),
        F.sum(F.expr("1000000000 div c")).cast("bigint").alias(
            "sum_inv_size_fp"
        ),
    )
    d = lambda c: F.col(c).cast("double")
    ess = (
        d("n_clusters") * d("n_clusters") * F.lit(1000000000.0)
        / d("sum_inv_size_fp")
    )
    return agg.select(
        "n_docs",
        "n_clusters",
        "n_dup_docs",
        "sum_inv_size_fp",
        F.when(F.col("sum_inv_size_fp") > 0, ess).alias("ess"),
        F.when(
            (F.col("n_docs") > 0) & (F.col("sum_inv_size_fp") > 0),
            ess / d("n_docs"),
        ).alias("ess_ratio"),
    )
