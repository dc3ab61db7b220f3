"""End-to-end LLM training-corpus pipeline (north-star composition).

One registered query chains the stages every corpus build runs — score ->
quantile filter -> exact dedup -> near-dup dedup -> corpus stats — each
stage reusing an operator that is individually oracle-verified elsewhere
(text.py quality score, sketch-threshold filter; dedup.py exact +
MinHash-LSH). The full chain has a single DuckDB oracle, so composition
bugs (stage ordering, survivor-set plumbing) are caught, not just the
pieces.

Physical shape at 100 TB, stage by stage:
1. score      — narrow (split once at a projection boundary, two sizes)
2. threshold  — percentile_approx sketch -> one driver scalar, folded
                back as a literal (narrow filter, no join)
3. exact dup  — row_number over (md5(text)) partitions: one shuffle on a
                16-byte key, no global ordering
4. near dup   — banded MinHash equi-join (candidates only, verified
                exactly) from dedup.py, restricted to survivors; drop
                the greater id of each verified pair (deterministic)
5. stats      — per-lang partial agg

The only shuffles are keyed (hash, band-key, lang); nothing global, no
window without a partition key, no cartesian anything.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..registry import query
from ..tables import load_parallel
from .dedup import _LSH_PAIRS_SQL, dedup_minhash_lsh

_PIPELINE_ORACLE = f"""
WITH {_LSH_PAIRS_SQL.lstrip()},
m AS (
  SELECT d.doc_id, d.lang, d.text,
         CAST(len(t0.w) AS BIGINT) AS ntok,
         round(0.4 * least(len(t0.w) / 100.0, 1.0)
               + 0.6 * (len(list_distinct(t0.w)) * 1.0 / len(t0.w)), 6)
           AS quality
  FROM documents d JOIN t0 ON t0.doc_id = d.doc_id
),
thr AS (SELECT quantile_disc(quality, 0.1) AS t FROM m),
s1 AS (SELECT m.* FROM m, thr WHERE m.quality >= thr.t),
s2 AS (
  SELECT * FROM (
    SELECT s1.*, row_number() OVER (PARTITION BY md5(text)
                                    ORDER BY doc_id) AS rn
    FROM s1) WHERE rn = 1
),
dropped AS (
  SELECT DISTINCT p.doc_b FROM pairs p
  JOIN s2 a ON a.doc_id = p.doc_a
  JOIN s2 b ON b.doc_id = p.doc_b
)
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(ntok) AS BIGINT) AS total_tokens,
       round(avg(quality), 6) AS avg_quality
FROM s2 WHERE doc_id NOT IN (SELECT doc_b FROM dropped)
GROUP BY lang
"""


@query("pipeline_llm_corpus", oracle=_PIPELINE_ORACLE)
def pipeline_llm_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full corpus build as one plan — see module docstring for the
    per-stage physical argument. Near-dup rule: among quality+exact
    survivors, the GREATER doc_id of every verified LSH pair is dropped
    (deterministic, order-free; full cluster resolution is
    dedup_connected_components' job)."""
    docs = load_parallel(spark, sf_dir, "documents")
    w = F.split("text", " ")
    scored = (docs
              .select("doc_id", "lang", "text", w.alias("w"))
              .select("doc_id", "lang", "text",
                      F.size("w").cast("bigint").alias("ntok"),
                      F.size("w").cast("double").alias("n"),
                      F.size(F.array_distinct("w")).cast("double").alias("nd"))
              .select("doc_id", "lang", "text", "ntok",
                      F.round(0.4 * F.least(F.col("n") / 100.0, F.lit(1.0))
                              + 0.6 * (F.col("nd") / F.col("n")), 6)
                      .alias("quality")))
    # quality threshold as a scalar subquery — same action as the filter,
    # no .first() driver round-trip (see text_quality_filter_approx)
    import uuid as _uuid

    v = f"hdr_corpus_scored_{_uuid.uuid4().hex[:8]}"
    scored.createOrReplaceTempView(v)
    s1 = spark.sql(f"""
        SELECT * FROM {v}
        WHERE quality >= (SELECT percentile_approx(quality, 0.1, 1000000)
                          FROM {v})""")
    spark.catalog.dropTempView(v)
    s2 = (s1.withColumn("rn", F.row_number().over(
              W.partitionBy(F.md5("text")).orderBy("doc_id")))
          .filter(F.col("rn") == 1).drop("rn"))
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    ids = s2.select("doc_id")
    dropped = (pairs
               .join(ids.withColumnRenamed("doc_id", "doc_a"), "doc_a")
               .join(ids.withColumnRenamed("doc_id", "doc_b"), "doc_b")
               .select("doc_b").distinct())
    final = s2.join(dropped, s2.doc_id == dropped.doc_b, "left_anti")
    return (final.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("ntok").alias("total_tokens"),
                 F.round(F.avg("quality"), 6).alias("avg_quality")))


# Banded sign-LSH candidate pairs — single source of truth for the
# band/bucket CTEs lives in similarity.EMB_BAND_BUCKETS_SQL (the same
# fragment dedup_embedding_lsh's oracle composes), so the three oracles
# can never drift apart again.
from .similarity import EMB_BAND_BUCKETS_SQL as _EMB_BAND_SQL

_EMB_BUCKETS_SQL = f"""
{_EMB_BAND_SQL.strip()},
ecand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM bb a JOIN bb b ON a.band = b.band AND a.bkt = b.bkt
                      AND a.vec_id < b.vec_id
),
e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
vpairs AS (
  SELECT c.vec_a, c.vec_b
  FROM ecand c JOIN e a ON a.vec_id = c.vec_a JOIN e b ON b.vec_id = c.vec_b
  WHERE list_cosine_similarity(a.emb, b.emb) >= 0.4
)
"""


@query("pipeline_embedding_dedup", oracle=f"""
WITH RECURSIVE {_EMB_BUCKETS_SQL.lstrip()},
edges AS (SELECT vec_a AS u, vec_b AS v FROM vpairs
          UNION SELECT vec_b, vec_a FROM vpairs),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
),
labels AS (
  SELECT u AS vec_id, least(u, min(v)) AS canonical_id
  FROM reach GROUP BY u
)
SELECT canonical_id,
       count(*) AS n_members,
       CAST(max(vec_id) AS BIGINT) AS max_member
FROM labels GROUP BY canonical_id
""")
def pipeline_embedding_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embedding-side corpus pipeline as ONE plan: hyperplane-LSH
    buckets -> same-bucket cosine-verified near-dup pairs
    (dedup_embedding_lsh) -> connected components (min_label_cc's
    pointer-doubling min-label loop) -> per-cluster membership
    stats. The oracle rebuilds the identical chain with a recursive-CTE
    closure, so stage composition — bucketing determinism, threshold
    placement, label fixpoint — is verified end-to-end, not just each
    stage alone.

    Scale shape: every stage is narrow or an equi-join (bucket self-join,
    label-propagation joins); cluster count and per-cluster state are
    near-dup-sized, orders below corpus size. This is the vector-space
    sibling of pipeline_llm_corpus's text chain."""
    from .dedup import dedup_embedding_lsh, min_label_cc

    pairs = (dedup_embedding_lsh(spark, sf_dir)
             .select("vec_a", "vec_b").localCheckpoint())
    edges = (pairs.select(F.col("vec_a").alias("u"), F.col("vec_b").alias("v"))
             .unionByName(pairs.select(F.col("vec_b").alias("u"),
                                       F.col("vec_a").alias("v")))
             .distinct().persist())
    labels, _ = min_label_cc(spark, edges)
    edges.unpersist()  # labels is materialized (the convergence count ran)
    return (labels.groupBy(F.col("lbl").alias("canonical_id"))
            .agg(F.count(F.lit(1)).alias("n_members"),
                 F.max("u").cast("bigint").alias("max_member")))


@query("graph_quality_propagation", oracle=f"""
WITH RECURSIVE {_LSH_PAIRS_SQL.lstrip()},
edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
),
labels AS (
  SELECT u AS doc_id, least(u, min(v)) AS canonical_id
  FROM reach GROUP BY u
),
q AS (
  SELECT d.doc_id,
         round(0.4 * least(len(string_split(d.text, ' ')) / 100.0, 1.0)
               + 0.6 * (len(list_distinct(string_split(d.text, ' '))) * 1.0
                        / len(string_split(d.text, ' '))), 6) AS quality
  FROM documents d
)
SELECT l.canonical_id,
       count(*) AS n_members,
       round(max(q.quality), 6) AS best_quality,
       round(min(q.quality), 6) AS worst_quality
FROM labels l JOIN q ON q.doc_id = l.doc_id
GROUP BY l.canonical_id
""")
def graph_quality_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata propagation across duplicate clusters: after cluster
    resolution, the KEPT canonical document should carry the best
    evidence its duplicates collected (max quality here; in production
    also source lists, license bits, crawl dates). One join from labels
    to per-doc scores, one per-cluster aggregate — cluster-count-sized
    output. Composes three verified subsystems (MinHash LSH pairs,
    connected components, quality scoring) under one oracle; cluster
    keys ride the O(log n) dedup_cc_two_phase_star builder (round 11,
    VERDICT r10 ask #8 — the star family is the default wherever a
    consumer only needs cluster keys)."""
    from .dedup import dedup_cc_two_phase_star

    labels = dedup_cc_two_phase_star(spark, sf_dir)
    docs = load_parallel(spark, sf_dir, "documents")
    w = F.split("text", " ")
    q = (docs.select("doc_id", w.alias("w"))
         .select("doc_id", F.size("w").cast("double").alias("n"),
                 F.size(F.array_distinct("w")).cast("double").alias("nd"))
         .select("doc_id",
                 F.round(0.4 * F.least(F.col("n") / 100.0, F.lit(1.0))
                         + 0.6 * (F.col("nd") / F.col("n")), 6)
                 .alias("quality")))
    return (labels.join(q, "doc_id")
            .groupBy("canonical_id")
            .agg(F.count(F.lit(1)).alias("n_members"),
                 F.round(F.max("quality"), 6).alias("best_quality"),
                 F.round(F.min("quality"), 6).alias("worst_quality")))


@query("corpus_balanced_sample", oracle="""
WITH counts AS (SELECT lang, count(*) AS c FROM documents GROUP BY lang),
thr AS (
  SELECT lang, ((SELECT min(c) FROM counts) * 1000000) // c AS keep_ppm
  FROM counts
)
SELECT d.doc_id, d.lang
FROM documents d
JOIN thr ON thr.lang = d.lang
WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
      % 1000000 < thr.keep_ppm
""")
def corpus_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-balanced corpus downsampling — the rebalancing step of a
    multilingual training-data pipeline: each language keeps a
    content-hash Bernoulli sample at rate min_count/count_lang (ppm
    integer arithmetic so both engines compute the identical threshold),
    equalizing expected per-language volume to the smallest language.

    One keyed aggregate for the per-language counts (language-count-sized
    — a global min over it is a ~5-row single-partition window, not a
    scan-side bottleneck), broadcast back as thresholds; the sample
    itself is the same det_hash64 filter as sample_deterministic —
    partition-invariant, engine-invariant, reproducible across reruns.
    At 100 TB: one narrow filtered pass + one tiny broadcast; no global
    shuffle of the corpus."""
    from ..functions.vector import det_hash64

    docs = load_parallel(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("c"))
    thr = (counts
           .withColumn("t", F.min("c").over(W.partitionBy(F.lit(1))))
           .withColumn("keep_ppm", F.expr("t * 1000000 div c"))
           .select("lang", "keep_ppm"))
    return (docs.join(F.broadcast(thr), "lang")
            .filter(det_hash64(F.col("doc_id").cast("string")) % 1000000
                    < F.col("keep_ppm"))
            .select("doc_id", "lang"))


@query("corpus_dedup_report", oracle=f"""
WITH {_LSH_PAIRS_SQL.lstrip()},
pd AS (SELECT doc_a AS doc_id FROM pairs
       UNION SELECT doc_b AS doc_id FROM pairs)
SELECT d.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT md5(d.text)) AS BIGINT) AS n_exact_unique,
       CAST(count(CASE WHEN pd.doc_id IS NOT NULL THEN 1 END) AS BIGINT)
         AS n_near_dup,
       round(1.0 - count(DISTINCT md5(d.text)) / count(*), 6)
         AS exact_dup_rate
FROM documents d LEFT JOIN pd ON pd.doc_id = d.doc_id
GROUP BY d.source
""")
def corpus_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup OBSERVABILITY — the per-source report a corpus pipeline
    publishes after every ingest: document counts, exact-unique counts
    (md5 content identity), near-dup membership (docs in >= 1 LSH-banded
    candidate pair, via the shared memoized signature pass), and the
    exact-dup rate. One scan + one distinct-aggregate + one left
    semi-ish join against the pair-derived id set; at 100 TB the only
    corpus-wide shuffle keys on source, and the pair set is
    candidate-sized, not corpus-sized."""
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    pd_ids = (pairs.select(F.col("doc_a").alias("doc_id"))
              .union(pairs.select(F.col("doc_b").alias("doc_id")))
              .distinct().withColumn("__near", F.lit(1)))
    docs = load_parallel(spark, sf_dir, "documents")
    return (docs.join(pd_ids, "doc_id", "left")
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.countDistinct(F.md5("text")).alias("n_exact_unique"),
                 F.sum(F.coalesce(F.col("__near"), F.lit(0)))
                 .cast("bigint").alias("n_near_dup"),
                 F.round(F.lit(1.0) - F.countDistinct(F.md5("text"))
                         / F.count(F.lit(1)), 6).alias("exact_dup_rate")))


_SEQ_LEN = 512  # target training-sequence capacity, in whitespace tokens


@query("corpus_sequence_pack", oracle=f"""
WITH t AS (
  SELECT doc_id, source,
         CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
              AS BIGINT) AS ntok
  FROM documents
),
c AS (
  SELECT source, doc_id, ntok,
         CAST(coalesce(sum(ntok) OVER (
             PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS prev
  FROM t
)
SELECT source,
       CAST(floor(prev / {_SEQ_LEN}.0) AS BIGINT) AS seq_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(ntok) AS BIGINT) AS n_tokens,
       round(sum(ntok) / {_SEQ_LEN}.0, 6) AS fill_ratio
FROM c
GROUP BY source, CAST(floor(prev / {_SEQ_LEN}.0) AS BIGINT)
""")
def corpus_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for LLM pretraining — the concat-then-chunk
    strategy: within each source stream, documents concatenate in doc_id
    order and split into fixed-capacity training sequences (512
    whitespace tokens here; a real pipeline swaps in its tokenizer's
    counts). A document is attributed to the sequence where it STARTS,
    so the running token count alone determines the assignment — no
    greedy bin-search, no driver loop. Output audits the packing:
    docs/tokens per sequence and the fill ratio (straddling docs push
    the starting sequence above 1.0; the trainer's chunker absorbs the
    overflow into the next window).

    Scale shape: the cumulative sum windows on (source) — a KEYED
    window, never a global ordering — so 100 TB packs with one shuffle
    partitioned by source, each partition streaming its frame in order.
    Skewed mega-sources would salt the key by coarse doc_id ranges and
    offset the running sums by per-range totals (two-pass prefix sum);
    at the test corpus's fan-out the single keyed window is the right
    plan."""
    docs = load_parallel(spark, sf_dir, "documents")
    ntok = F.size(F.filter(F.split("text", " "), lambda x: x != ""))
    t = docs.select("doc_id", "source", ntok.cast("bigint").alias("ntok"))
    w = (W.partitionBy("source").orderBy("doc_id")
         .rowsBetween(W.unboundedPreceding, -1))
    c = t.select(
        "source", "ntok",
        F.coalesce(F.sum("ntok").over(w), F.lit(0)).alias("prev"))
    seq = F.floor(F.col("prev") / float(_SEQ_LEN)).cast("bigint")
    return (c.select("source", "ntok", seq.alias("seq_id"))
            .groupBy("source", "seq_id")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("ntok").alias("n_tokens"),
                 F.round(F.sum("ntok") / float(_SEQ_LEN), 6)
                 .alias("fill_ratio")))


# ---------------------------------------------------------------------------
# Deterministic train/valid/test split (80/10/10 by content hash).

_SPLIT_BUCKETS = 100
_SPLIT_TRAIN = 80   # bucket < 80           -> train
_SPLIT_VALID = 90   # 80 <= bucket < 90     -> valid; rest -> test


@query("corpus_split_train_valid_test", oracle=f"""
WITH t AS (
  SELECT doc_id, n_chars,
         (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
            % {_SPLIT_BUCKETS}) AS bucket,
         CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
              AS BIGINT) AS ntok
  FROM documents
),
s AS (
  SELECT CASE WHEN bucket < {_SPLIT_TRAIN} THEN 'train'
              WHEN bucket < {_SPLIT_VALID} THEN 'valid'
              ELSE 'test' END AS split,
         ntok, n_chars
  FROM t
)
SELECT split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(ntok) AS BIGINT) AS n_tokens,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       round(count(*) * 1.0 / (SELECT count(*) FROM documents), 6) AS frac_docs
FROM s GROUP BY split
""")
def corpus_split_train_valid_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash split into train/valid/test (80/10/10).

    The split key is a CONTENT hash of the stable doc_id (det_hash64, the
    md5-prefix hash shared bit-for-bit with the oracle), never a random()
    draw or a row position: re-running the pipeline, adding files, or
    changing partitioning must not migrate a document across splits,
    or eval sets silently contaminate train (the leakage analog of the
    reference's re-read-every-epoch weights, driver.java:126-141).

    Scale shape: one narrow scan computes bucket + token counts, one
    3-group partial agg; the doc-count denominator is recovered from the
    3-row summary itself with an unbounded window (splits partition the
    corpus, so sum(n_docs) == count(*)) — no 1-row join, no BNLJ, the
    same summary-side trick corpus_temperature_mix uses."""
    from ..functions.vector import det_hash64

    docs = load_parallel(spark, sf_dir, "documents")
    ntok = F.size(F.filter(F.split("text", " "), lambda x: x != ""))
    bucket = det_hash64(F.col("doc_id").cast("string")) % _SPLIT_BUCKETS
    t = docs.select(
        "doc_id", "n_chars", ntok.cast("bigint").alias("ntok"),
        F.when(bucket < _SPLIT_TRAIN, "train")
         .when(bucket < _SPLIT_VALID, "valid")
         .otherwise("test").alias("split"))
    s = (t.groupBy("split")
         .agg(F.count(F.lit(1)).alias("n_docs"),
              F.sum("ntok").alias("n_tokens"),
              F.sum("n_chars").alias("sum_chars")))
    n_total = F.sum("n_docs").over(W.partitionBy())
    return s.select("split", "n_docs", "n_tokens", "sum_chars",
                    F.round(F.col("n_docs") * 1.0 / n_total, 6)
                    .alias("frac_docs"))


# ---------------------------------------------------------------------------
# Balanced shard assignment via two-phase global prefix sum.

_SHARD_BUCKETS = 64      # coarse prefix-sum buckets (h % 64)
_SHARD_TOKENS = 2048     # target tokens per output shard


@query("corpus_shard_assign", oracle=f"""
WITH t AS (
  SELECT doc_id,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS h,
         CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
              AS BIGINT) AS ntok
  FROM documents
),
c AS (
  SELECT doc_id, ntok,
         CAST(coalesce(sum(ntok) OVER (
             ORDER BY h % {_SHARD_BUCKETS}, h, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS prev
  FROM t
)
SELECT CAST(floor(prev / {_SHARD_TOKENS}.0) AS BIGINT) AS shard_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(ntok) AS BIGINT) AS n_tokens,
       round(sum(ntok) / {_SHARD_TOKENS}.0, 6) AS fill_ratio
FROM c
GROUP BY CAST(floor(prev / {_SHARD_TOKENS}.0) AS BIGINT)
""")
def corpus_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Globally balanced training-shard assignment WITHOUT a global window.

    Writers want N output shards of ~equal token counts in a deterministic
    pseudo-random order (hash order, so sources interleave). The naive
    form is a running token sum over one global ordering — an
    unpartitioned window that funnels the whole corpus through a single
    task. This implements the scale-correct TWO-PHASE PREFIX SUM instead:

      1. bucket = h % {_SHARD_BUCKETS} (h = det_hash64(doc_id)); a KEYED
         window per bucket computes the within-bucket running sum in
         (h, doc_id) order;
      2. per-bucket token totals ({_SHARD_BUCKETS} rows) get their own
         exclusive prefix sum — a window over a driver-size table — and
         broadcast back as bucket offsets;
      3. global_prev = bucket_offset + within_prev; shard_id =
         floor(global_prev / {_SHARD_TOKENS}).

    The canonical global order is therefore (bucket, h, doc_id), and the
    oracle computes the SAME order with one flat window, proving the
    decomposition exact. At 100 TB phase 1 is one shuffle on a 64-way
    key (scale the bucket count with the cluster), phase 2 is scalar
    work, phase 3 a broadcast join — nothing global anywhere."""
    from ..functions.vector import det_hash64

    docs = load_parallel(spark, sf_dir, "documents")
    ntok = F.size(F.filter(F.split("text", " "), lambda x: x != ""))
    t = docs.select(
        "doc_id", det_hash64(F.col("doc_id").cast("string")).alias("h"),
        ntok.cast("bigint").alias("ntok")).withColumn(
        "bucket", F.col("h") % _SHARD_BUCKETS)
    win = (W.partitionBy("bucket").orderBy("h", "doc_id")
           .rowsBetween(W.unboundedPreceding, -1))
    within = t.select(
        "bucket", "ntok",
        F.coalesce(F.sum("ntok").over(win), F.lit(0)).alias("prev_in"))
    totals = t.groupBy("bucket").agg(F.sum("ntok").alias("tot"))
    woff = (W.orderBy("bucket").rowsBetween(W.unboundedPreceding, -1))
    offsets = totals.select(
        "bucket", F.coalesce(F.sum("tot").over(woff), F.lit(0)).alias("off"))
    c = within.join(F.broadcast(offsets), "bucket").select(
        "ntok", (F.col("off") + F.col("prev_in")).alias("prev"))
    shard = F.floor(F.col("prev") / float(_SHARD_TOKENS)).cast("bigint")
    return (c.select("ntok", shard.alias("shard_id"))
            .groupBy("shard_id")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("ntok").alias("n_tokens"),
                 F.round(F.sum("ntok") / float(_SHARD_TOKENS), 6)
                 .alias("fill_ratio")))


# ---------------------------------------------------------------------------
# Quality-weighted deterministic importance resampling.

_RESAMPLE_GRID = 10_000   # acceptance-probability resolution (1e-4)


@query("corpus_importance_resample", oracle=f"""
WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS w
           FROM documents),
m AS (SELECT doc_id, source,
             CAST(len(w) AS BIGINT) AS ntok,
             round(0.4 * least(len(w) / 100.0, 1.0)
                   + 0.6 * (len(list_distinct(w)) * 1.0 / len(w)), 6) AS q
      FROM t),
kept AS (
  SELECT source, ntok, q,
         (('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|rs'), 1, 8))::BIGINT
            % {_RESAMPLE_GRID}) < CAST(floor(q * {_RESAMPLE_GRID}) AS BIGINT)
           AS keep
  FROM m
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN keep THEN ntok ELSE 0 END) AS BIGINT)
         AS kept_tokens,
       CAST(sum(CAST(round(q * 1000000) AS BIGINT)) AS BIGINT)
         AS q_micro_sum
FROM kept GROUP BY source
""")
def corpus_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted importance resampling: each document survives
    with probability equal to its quality score — the soft alternative
    to a hard quality cutoff (low-quality text is down-weighted, not
    censored, preserving distributional coverage; the FineWeb/DataComp
    ablation recipe). The coin flip is a CONTENT-HASH draw
    (det_hash64(doc_id|'rs') on a 1e-4 grid vs floor(q * grid)), never
    random(): reruns, retries, and repartitioning keep exactly the same
    survivor set, and the '|rs' salt decorrelates this draw from every
    other hash decision in the pipeline (split, sampling, shards).
    Output: per-source acceptance accounting (plus the exact micro-unit
    quality mass, so downstream mixes can renormalize).

    Scale: one narrow scan (score + hash + flag), one source-keyed
    partial aggregate. Nothing shuffles but the summary."""
    from ..functions.vector import det_hash64

    docs = load_parallel(spark, sf_dir, "documents")
    w = F.split("text", " ")
    m = docs.select(
        "doc_id", "source", F.size(w).cast("bigint").alias("ntok"),
        F.round(0.4 * F.least(F.size(w) / 100.0, F.lit(1.0))
                + 0.6 * (F.size(F.array_distinct(w)) * 1.0 / F.size(w)), 6)
        .alias("q"))
    draw = det_hash64(F.concat(F.col("doc_id").cast("string"),
                               F.lit("|rs"))) % _RESAMPLE_GRID
    keep = draw < F.floor(F.col("q") * _RESAMPLE_GRID).cast("bigint")
    kept = m.select("source", "ntok", "q", keep.alias("keep"))
    return (kept.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("bigint")
                 .alias("n_kept"),
                 F.sum(F.when(F.col("keep"), F.col("ntok")).otherwise(0))
                 .cast("bigint").alias("kept_tokens"),
                 F.sum(F.round(F.col("q") * 1000000).cast("bigint"))
                 .cast("bigint").alias("q_micro_sum")))


# ---------------------------------------------------------------------------
# The full dedup ladder as ONE audited cascade.


@query("corpus_dedup_cascade", oracle=f"""
WITH {_LSH_PAIRS_SQL.lstrip()},
{_EMB_BUCKETS_SQL.lstrip().rstrip()},
pk AS (
  SELECT doc_id,
         md5(array_to_string(string_split(trim(regexp_replace(
             regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
             ' +', ' ', 'g')), ' ')[1:10], ' ')) AS ckey
  FROM documents
),
r1drop AS (
  SELECT doc_id FROM (
    SELECT doc_id, min(doc_id) OVER (PARTITION BY ckey) AS k FROM pk)
  WHERE doc_id != k
),
rem1 AS (SELECT doc_id FROM documents
         WHERE doc_id NOT IN (SELECT doc_id FROM r1drop)),
ek AS (SELECT d.doc_id, md5(d.text) AS ekey
       FROM documents d JOIN rem1 USING (doc_id)),
r2drop AS (
  SELECT doc_id FROM (
    SELECT doc_id, min(doc_id) OVER (PARTITION BY ekey) AS k FROM ek)
  WHERE doc_id != k
),
rem2 AS (SELECT doc_id FROM rem1
         WHERE doc_id NOT IN (SELECT doc_id FROM r2drop)),
r3drop AS (
  SELECT DISTINCT p.doc_b AS doc_id FROM pairs p
  JOIN rem2 a ON a.doc_id = p.doc_a
  JOIN rem2 b ON b.doc_id = p.doc_b
),
rem3 AS (SELECT doc_id FROM rem2
         WHERE doc_id NOT IN (SELECT doc_id FROM r3drop)),
r4drop AS (
  SELECT DISTINCT vp.vec_b AS doc_id FROM vpairs vp
  JOIN rem3 a ON a.doc_id = vp.vec_a
  JOIN rem3 b ON b.doc_id = vp.vec_b
),
rem4 AS (SELECT doc_id FROM rem3
         WHERE doc_id NOT IN (SELECT doc_id FROM r4drop)),
n AS (SELECT
  (SELECT count(*) FROM documents) AS n0,
  (SELECT count(*) FROM rem1) AS n1,
  (SELECT count(*) FROM rem2) AS n2,
  (SELECT count(*) FROM rem3) AS n3,
  (SELECT count(*) FROM rem4) AS n4)
SELECT * FROM (
  SELECT 1 AS rung, 'prefix' AS stage,
         CAST(n0 AS BIGINT) AS n_in, CAST(n0 - n1 AS BIGINT) AS n_removed,
         CAST(n1 AS BIGINT) AS n_out FROM n
  UNION ALL
  SELECT 2, 'exact', CAST(n1 AS BIGINT), CAST(n1 - n2 AS BIGINT),
         CAST(n2 AS BIGINT) FROM n
  UNION ALL
  SELECT 3, 'minhash', CAST(n2 AS BIGINT), CAST(n2 - n3 AS BIGINT),
         CAST(n3 AS BIGINT) FROM n
  UNION ALL
  SELECT 4, 'embedding', CAST(n3 AS BIGINT), CAST(n3 - n4 AS BIGINT),
         CAST(n4 AS BIGINT) FROM n)
""")
def corpus_dedup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production dedup LADDER as one audited cascade — cheapest
    rung first, each rung seeing only the previous rung's survivors:

      1. prefix    — normalized 10-word-prefix fingerprint (no pairs)
      2. exact     — byte-exact md5 groups
      3. minhash   — banded-LSH verified Jaccard pairs, drop greater id
      4. embedding — bucketed cosine pairs (vec_id == doc_id), same rule

    The output is the per-rung accounting table (n_in / n_removed /
    n_out) a corpus build publishes, so the ladder's marginal value per
    rung is visible (on this fixture: prefix removes what exact would
    and more, minhash catches the reordered-edit near-dups, embedding
    the semantic tail). Pair rungs reuse the corpus-wide verified pair
    sets restricted to both-endpoints-remaining — identical to
    recomputing on survivors, since dropping a doc only removes pairs
    it participates in.

    Scale: rungs 1-2 are keyed grouped-mins (one shuffle each); rungs
    3-4 are the banded equi-joins priced in SCALE.md; the cascade adds
    only anti-joins between rungs, each keyed on doc_id. Counting runs
    on id-sets, never payloads."""
    from .dedup import dedup_embedding_lsh, dedup_minhash_lsh

    docs = load_parallel(spark, sf_dir, "documents")
    ids = docs.select("doc_id")
    clean = F.trim(F.regexp_replace(
        F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""),
        " +", " "))
    pk = docs.select("doc_id", F.md5(
        F.concat_ws(" ", F.slice(F.split(clean, " "), 1, 10))).alias("ckey"))

    def survivors(keyed: DataFrame, key: str) -> DataFrame:
        keep = keyed.groupBy(key).agg(F.min("doc_id").alias("doc_id"))
        return keep.select("doc_id")

    def grouped_drop(keyed: DataFrame, key: str) -> DataFrame:
        keep = keyed.groupBy(key).agg(F.min("doc_id").alias("k"))
        return (keyed.join(keep, key)
                .filter(F.col("doc_id") != F.col("k")).select("doc_id"))

    rem1 = ids.join(grouped_drop(pk, "ckey"), "doc_id", "left_anti")
    ek = (docs.select("doc_id", F.md5("text").alias("ekey"))
          .join(rem1, "doc_id"))
    rem2 = rem1.join(grouped_drop(ek, "ekey"), "doc_id", "left_anti")
    lsh = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    r3drop = (lsh.join(rem2.withColumnRenamed("doc_id", "doc_a"), "doc_a")
              .join(rem2.withColumnRenamed("doc_id", "doc_b"), "doc_b")
              .select(F.col("doc_b").alias("doc_id")).distinct())
    rem3 = rem2.join(r3drop, "doc_id", "left_anti")
    emb = dedup_embedding_lsh(spark, sf_dir).select("vec_a", "vec_b")
    r4drop = (emb.join(rem3.withColumnRenamed("doc_id", "vec_a"), "vec_a")
              .join(rem3.withColumnRenamed("doc_id", "vec_b"), "vec_b")
              .select(F.col("vec_b").alias("doc_id")).distinct())
    rem4 = rem3.join(r4drop, "doc_id", "left_anti")

    n0, n1, n2, n3, n4 = (df.count() for df in (ids, rem1, rem2, rem3, rem4))
    rows = [(1, "prefix", n0, n0 - n1, n1),
            (2, "exact", n1, n1 - n2, n2),
            (3, "minhash", n2, n2 - n3, n3),
            (4, "embedding", n3, n3 - n4, n4)]
    # The summary is 4 rows of already-aggregated counts — a driver-side
    # createDataFrame of five integers per rung, not a data-path collect.
    return spark.createDataFrame(
        rows, "rung bigint, stage string, n_in bigint, n_removed bigint, "
              "n_out bigint")


# Length-bucketed batching geometry: pad targets are multiples of
# BUCKET_QUANT tokens; each batch holds at most BATCH_DOCS documents.
BUCKET_QUANT, BATCH_DOCS = 32, 16


@query("corpus_length_bucket_batches", oracle=f"""
WITH t AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
           FROM documents),
b AS (SELECT doc_id, n_tokens,
             CAST(ceil(n_tokens / {BUCKET_QUANT}.0) AS BIGINT)
               * {BUCKET_QUANT} AS bucket
      FROM t),
r AS (SELECT *, (row_number() OVER (PARTITION BY bucket
                                    ORDER BY doc_id) - 1)
                // {BATCH_DOCS} AS batch_id
      FROM b)
SELECT bucket, batch_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(max(n_tokens) AS BIGINT) AS max_tokens,
       CAST(sum(n_tokens) AS BIGINT) AS real_tokens,
       CAST(count(*) * bucket AS BIGINT) AS padded_tokens,
       round(1.0 - sum(n_tokens) * 1.0 / (count(*) * bucket), 6)
         AS pad_frac
FROM r GROUP BY bucket, batch_id
""")
def corpus_length_bucket_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LENGTH-BUCKETED BATCH ASSEMBLY (the padding-efficiency step of a
    training dataloader): documents are bucketed by token count rounded
    UP to a BUCKET_QUANT multiple (the static pad target), then packed
    into BATCH_DOCS-document batches in deterministic doc_id order, and
    each batch reports its padding overhead (1 - real/padded). The
    complementary strategy to corpus_sequence_pack: packing concatenates
    documents into fixed windows (zero padding, crossed doc boundaries);
    bucketing keeps documents whole and pays measured padding — this
    query quantifies that trade.

    One narrow token count folded into the scan, one shuffle on the
    bucket key for the row_number ordering, one combiner'd rollup. The
    bucket count is ~max_len/BUCKET_QUANT (tiny), so the window
    partitions are coarse but bounded: at 100 TB, replace the per-bucket
    row_number with (bucket, shard) salted ordinals the way
    corpus_shard_assign documents — batch ids need only be unique, not
    globally dense, and the pad accounting is batch-local either way."""
    docs = load_parallel(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", F.size(F.split("text", " ")).alias("n_tokens"))
    b = t.withColumn(
        "bucket",
        (F.ceil(F.col("n_tokens") / float(BUCKET_QUANT))
         * BUCKET_QUANT).cast("bigint"))
    w = W.partitionBy("bucket").orderBy("doc_id")
    r = b.withColumn(
        "batch_id",
        F.floor((F.row_number().over(w) - 1) / BATCH_DOCS).cast("bigint"))
    return (r.groupBy("bucket", "batch_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.max("n_tokens").cast("bigint").alias("max_tokens"),
                 F.sum("n_tokens").cast("bigint").alias("real_tokens"))
            .select("bucket", "batch_id", "n_docs", "max_tokens",
                    "real_tokens",
                    (F.col("n_docs") * F.col("bucket")).cast("bigint")
                    .alias("padded_tokens"),
                    F.round(1.0 - F.col("real_tokens") * 1.0
                            / (F.col("n_docs") * F.col("bucket")), 6)
                    .alias("pad_frac")))


@query("corpus_dataset_card", oracle="""
WITH t AS (SELECT doc_id, lang, text,
                  string_split(text, ' ') AS w FROM documents),
m AS (SELECT doc_id, lang, len(w) AS n,
             round(0.4 * least(len(w) / 100.0, 1.0)
                   + 0.6 * (len(list_distinct(w)) * 1.0 / len(w)), 6)
               AS quality,
             md5(text) AS h
      FROM t)
SELECT 'volume' AS section, 'n_docs' AS metric,
       count(*) * 1.0 AS value FROM m
UNION ALL
SELECT 'volume', 'n_tokens', sum(n) * 1.0 FROM m
UNION ALL
SELECT 'volume', 'avg_tokens', round(avg(n), 6) FROM m
UNION ALL
SELECT 'lang_share', lang, round(count(*) * 1.0
         / (SELECT count(*) FROM m), 6)
FROM m GROUP BY lang
UNION ALL
SELECT 'quality', 'p25', round(quantile_cont(quality, 0.25), 6) FROM m
UNION ALL
SELECT 'quality', 'p50', round(quantile_cont(quality, 0.50), 6) FROM m
UNION ALL
SELECT 'quality', 'p75', round(quantile_cont(quality, 0.75), 6) FROM m
UNION ALL
SELECT 'dedup', 'exact_dup_frac',
       round(1.0 - count(DISTINCT h) * 1.0 / count(*), 6) FROM m
""")
def corpus_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATASET CARD report: the one-query corpus summary a release ships
    with — volume (docs/tokens), language composition, quality-score
    quartiles, and the exact-duplicate fraction — in long (section,
    metric, value) format so downstream tooling diffs cards across
    snapshots (dq_profile_drift's shape, corpus-wide). Composes the
    engine's own building blocks: the text_quality_score formula, the
    dedup_exact content hash, the lang shares corpus_temperature_mix
    reweights.

    One scan feeds every branch (docs -> tokenized/hashed frame, then
    cheap aggregates unioned); each branch is a combiner'd global or
    lang-keyed aggregate — no joins, no windows. At 100 TB: this is
    the report you compute INCREMENTALLY per partition-drop and merge,
    exactly like the HLL rollup family; the one holistic piece
    (quality quartiles) swaps to approx_percentile / sketch_quantiles
    at that scale."""
    # The card's branches all derive from one tokenized/hashed frame;
    # persist it ONCE per (session, sf) in the shared weak-keyed cache
    # (clear_signature_cache evicts it) instead of leaking a fresh cache
    # entry per invocation — the ml_naive_bayes_langid pattern.
    from .dedup import memo_persist

    def _build_m() -> DataFrame:
        docs = load_parallel(spark, sf_dir, "documents")
        w = F.split("text", " ")
        return docs.select(
            "lang",
            F.size(w).alias("n"),
            F.round(0.4 * F.least(F.size(w) / 100.0, F.lit(1.0))
                    + 0.6 * (F.size(F.array_distinct(w)) * 1.0
                             / F.size(w)), 6)
            .alias("quality"),
            F.md5("text").alias("h"))

    m = memo_persist(spark, f"dataset_card_m::{sf_dir}", _build_m)
    sec = lambda s, met, val: (  # noqa: E731
        m.agg(val.alias("value"))
        .select(F.lit(s).alias("section"), F.lit(met).alias("metric"),
                "value"))
    n_docs = m.count()  # materializes the persisted frame; reused below
    vol = [
        sec("volume", "n_docs", F.count(F.lit(1)) * 1.0),
        sec("volume", "n_tokens", F.sum("n") * 1.0),
        sec("volume", "avg_tokens", F.round(F.avg("n"), 6)),
    ]
    lang = (m.groupBy("lang")
            .agg(F.round(F.count(F.lit(1)) * 1.0 / n_docs, 6)
                 .alias("value"))
            .select(F.lit("lang_share").alias("section"),
                    F.col("lang").alias("metric"), "value"))
    qs = [sec("quality", f"p{int(q * 100)}",
              F.round(F.percentile("quality", F.lit(q)), 6))
          for q in (0.25, 0.50, 0.75)]
    dup = sec("dedup", "exact_dup_frac",
              F.round(1.0 - F.count_distinct("h") * 1.0
                      / F.count(F.lit(1)), 6))
    out = vol[0]
    for piece in vol[1:] + [lang] + qs + [dup]:
        out = out.unionByName(piece)
    return out


# MLM masking plan: corruption rate in per-mille, and the BERT 80/10/10
# action split over masked positions — all drawn from a 32-bit content
# hash so the plan is reproducible on any engine, any partitioning.
_MLM_RATE_PM = 150          # 15% of token positions selected
_MLM_ACTION_MOD = 10        # of selected: 0-7 [MASK], 8 random, 9 keep


@query("corpus_mlm_mask_plan", oracle=f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
pos AS (
  SELECT doc_id, generate_subscripts(toks, 1) AS p
  FROM w
),
h AS (
  SELECT doc_id, p,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':'
                             || CAST(p AS VARCHAR)), 1, 8))::BIGINT AS hv
  FROM pos
),
m AS (
  SELECT doc_id, p,
         CASE WHEN hv % 1000 < {_MLM_RATE_PM} THEN 1 ELSE 0 END AS sel,
         CASE WHEN hv % 1000 < {_MLM_RATE_PM}
              THEN (hv // 1000) % {_MLM_ACTION_MOD} END AS act
  FROM h
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(sel) AS BIGINT) AS n_selected,
       CAST(sum(CASE WHEN act <= 7 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_mask,
       CAST(sum(CASE WHEN act = 8 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_random,
       CAST(sum(CASE WHEN act = 9 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_keep
FROM m GROUP BY doc_id
""")
def corpus_mlm_mask_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MASKED-LANGUAGE-MODEL corruption plan (BERT recipe): select ~15%
    of token positions per document and split the selected set 80/10/10
    into [MASK] / random-replace / keep-unchanged — the objective-side
    data prep of encoder pretraining, as a DATA-PARALLEL PLAN: what ships
    is the per-doc corruption ledger (counts here; the position list
    rides the same hash, so workers rematerialize it without any stored
    mask). Both draws come from one det_hash64(doc_id:position) — no RNG,
    so the plan is identical on any engine, any partitioning, any rerun
    (the corpus_split_train_valid_test determinism contract, applied at
    token grain).

    Everything is integer hash arithmetic and counts — no float path.

    Scale shape: one posexplode (narrow) + one md5 per token + a
    doc-keyed combiner'd aggregate; nothing corpus-global. The 100 TB
    cost is the hash throughput itself, which is exactly the cost of
    any content-defined masking; span corruption (T5) swaps the
    per-position Bernoulli for a hash on span starts with a geometric
    length lookup — same plumbing."""
    from ..functions.vector import det_hash64

    docs = load_parallel(spark, sf_dir, "documents")
    pos = docs.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("p0", "tok"))
    # DuckDB generate_subscripts is 1-based; mirror it exactly
    h = pos.select(
        "doc_id",
        det_hash64(F.concat_ws(
            ":", F.col("doc_id"), (F.col("p0") + 1))).alias("hv"))
    sel = F.when(F.col("hv") % 1000 < _MLM_RATE_PM, 1).otherwise(0)
    act = F.when(F.col("hv") % 1000 < _MLM_RATE_PM,
                 (F.col("hv") / 1000).cast("bigint") % _MLM_ACTION_MOD)
    m = h.select("doc_id", sel.alias("sel"), act.alias("act"))
    return (m.groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
                 F.sum("sel").cast("bigint").alias("n_selected"),
                 F.sum(F.when(F.col("act") <= 7, 1).otherwise(0))
                 .cast("bigint").alias("n_mask"),
                 F.sum(F.when(F.col("act") == 8, 1).otherwise(0))
                 .cast("bigint").alias("n_random"),
                 F.sum(F.when(F.col("act") == 9, 1).otherwise(0))
                 .cast("bigint").alias("n_keep")))


# Weighted-reservoir sample size per language.
_WRES_K = 5


@query("corpus_weighted_reservoir", oracle=f"""
WITH d AS (
  SELECT doc_id, lang, n_chars,
         ('0x' || substr(md5(doc_id || ':wres'), 1, 8))::BIGINT AS h
  FROM documents WHERE n_chars > 0),
keyed AS (
  SELECT doc_id, lang, n_chars,
         round(ln((h + 1) / 4294967297.0) / n_chars, 9) AS k
  FROM d),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY lang
                               ORDER BY k DESC, doc_id) AS rk
  FROM keyed)
SELECT lang, CAST(rk AS BIGINT) AS rk, doc_id,
       CAST(n_chars AS BIGINT) AS weight, k AS res_key
FROM ranked WHERE rk <= {_WRES_K}
""")
def corpus_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED reservoir sampling (Efraimidis & Spirakis 2006,
    algorithm A-ES): per language, sample k={_WRES_K} documents with
    probability proportional to weight (n_chars here; token count in a
    real mix) WITHOUT replacement, by ranking on key = u^(1/w) and
    keeping the top k. The deterministic-streaming twin of
    corpus_balanced_sample (uniform): this is how a token-budgeted
    pretraining mix draws long-doc-favoring samples reproducibly —
    reruns and late-arriving shards can't change already-drawn keys
    because u derives from a content hash, not an RNG. Ranking uses
    the equivalent monotone form ln(u)/w (avoids pow's double-rounding)
    snapped to a 9-digit grid; ties break on doc_id.

    Scale shape: key generation is a narrow scan (one md5 per doc);
    per-group top-k is a lang-partitioned window — with a group count
    this small every group's rank runs parallel, and beyond that the
    two-phase shard-local-top-k-then-merge form (corpus_shard_assign
    precedent) caps any single task at k x shards rows. A full-corpus
    A-ES reservoir is the same query with one global group."""
    from ..functions.vector import det_hash64
    # zero-weight docs (empty text) can never be drawn by A-ES (u^(1/w)
    # undefined at w=0) and would ANSI-crash the key division — excluded
    # identically in both engines (degenerate-documents sweep).
    docs = load_parallel(spark, sf_dir, "documents").filter(
        F.col("n_chars") > 0)
    h = det_hash64(F.concat(F.col("doc_id").cast("string"),
                            F.lit(":wres")))
    keyed = docs.select(
        "doc_id", "lang", "n_chars",
        F.round(F.log((h + 1) / F.lit(4294967297.0)) / F.col("n_chars"), 9)
        .alias("k"))
    rk = F.row_number().over(
        W.partitionBy("lang").orderBy(F.desc("k"), F.asc("doc_id")))
    return (keyed.withColumn("rk", rk.cast("bigint"))
            .filter(F.col("rk") <= _WRES_K)
            .select("lang", "rk", "doc_id",
                    F.col("n_chars").cast("bigint").alias("weight"),
                    F.col("k").alias("res_key")))


# T5 span corruption: 5% of positions start a span, hash-drawn span
# length 1..5 (mean 3) -> ~15% expected token corruption, the T5 paper's
# operating point. Same det_hash64(doc:pos) plumbing as the MLM plan.
_SPAN_START_PM = 50    # per-mille span-start rate
_SPAN_LEN_MOD = 5      # span length = 1 + (hv//1000) % 5


@query("corpus_span_corruption_plan", oracle=f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
n AS (SELECT doc_id, len(toks) AS n FROM w),
pos AS (SELECT doc_id, generate_subscripts(toks, 1) AS p FROM w),
h AS (
  SELECT doc_id, p,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':'
                             || CAST(p AS VARCHAR)), 1, 8))::BIGINT AS hv
  FROM pos),
st AS (
  SELECT h.doc_id, h.p AS s,
         1 + (hv // 1000) % {_SPAN_LEN_MOD} AS len
  FROM h WHERE hv % 1000 < {_SPAN_START_PM}),
cov AS (
  SELECT DISTINCT st.doc_id,
         unnest(generate_series(st.s,
                least(st.s + st.len - 1, n.n))) AS p
  FROM st JOIN n USING (doc_id)),
isl AS (
  SELECT doc_id, p,
         p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS grp
  FROM cov),
spans AS (
  SELECT doc_id, count(*) AS n_spans_merged, sum(slen) AS n_corrupted
  FROM (SELECT doc_id, grp, count(*) AS slen
        FROM isl GROUP BY doc_id, grp)
  GROUP BY doc_id),
raw AS (SELECT doc_id, count(*) AS n_spans_raw FROM st GROUP BY doc_id)
SELECT n.doc_id, CAST(n.n AS BIGINT) AS n_tokens,
       CAST(COALESCE(raw.n_spans_raw, 0) AS BIGINT) AS n_spans_raw,
       CAST(COALESCE(s.n_spans_merged, 0) AS BIGINT) AS n_sentinels,
       CAST(COALESCE(s.n_corrupted, 0) AS BIGINT) AS n_corrupted,
       round(COALESCE(s.n_corrupted, 0) * 1.0 / n.n, 6) AS corruption_rate
FROM n LEFT JOIN spans s USING (doc_id) LEFT JOIN raw USING (doc_id)
""")
def corpus_span_corruption_plan(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """T5 SPAN-CORRUPTION plan (Raffel et al. 2020 §3.1.4) — the
    encoder-decoder sibling of corpus_mlm_mask_plan, whose docstring
    promised exactly this swap: span STARTS are a per-position hash
    Bernoulli ({_SPAN_START_PM}/1000), span LENGTH is a hash lookup
    (1..{_SPAN_LEN_MOD}, mean 3 -> ~15% expected corruption), and
    overlapping or adjacent spans MERGE — each merged run of corrupted
    positions is replaced by ONE sentinel token in T5, so the merged
    count IS the sentinel budget the batch builder must reserve. The
    merge is the gaps-and-islands idiom (p - row_number over covered
    positions), the streaks_gaps_islands machinery at token grain.

    Both draws come from one det_hash64(doc_id:position) — no RNG, so
    the plan is identical on any engine/partitioning/rerun (the
    corpus_split determinism contract); everything is integer hash
    arithmetic and counts, the only float is the display rate.

    Scale shape: posexplode + md5 per token (narrow), span-start
    selection cuts to ~5% of positions, the covered-position explode
    fans each start to at most {_SPAN_LEN_MOD} rows, and the island
    window shuffles once on doc_id — the same doc-keyed single
    shuffle as every per-doc plan. Nothing corpus-global."""
    from ..functions.vector import det_hash64
    from pyspark.sql import Window as W

    docs = load_parallel(spark, sf_dir, "documents")
    w = docs.select("doc_id", F.split("text", " ").alias("toks"))
    n = w.select("doc_id", F.size("toks").alias("n"))
    pos = w.select("doc_id",
                   F.posexplode("toks").alias("p0", "tok"))
    h = pos.select("doc_id", (F.col("p0") + 1).alias("p"),
                   det_hash64(F.concat_ws(
                       ":", F.col("doc_id"), (F.col("p0") + 1)))
                   .alias("hv"))
    st = (h.filter(F.col("hv") % 1000 < _SPAN_START_PM)
          .select("doc_id", F.col("p").alias("s"),
                  (1 + (F.col("hv") / 1000).cast("bigint")
                   % _SPAN_LEN_MOD).alias("len")))
    cov = (st.join(n, "doc_id")
           .select("doc_id",
                   F.explode(F.sequence(
                       F.col("s"),
                       F.least(F.col("s") + F.col("len") - 1,
                               F.col("n").cast("bigint")))).alias("p"))
           .distinct())
    isl = cov.withColumn(
        "grp", F.col("p") - F.row_number().over(
            W.partitionBy("doc_id").orderBy("p")))
    spans = (isl.groupBy("doc_id", "grp")
             .agg(F.count(F.lit(1)).alias("slen"))
             .groupBy("doc_id")
             .agg(F.count(F.lit(1)).alias("n_spans_merged"),
                  F.sum("slen").alias("n_corrupted")))
    raw = st.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_spans_raw"))
    return (n.join(spans, "doc_id", "left").join(raw, "doc_id", "left")
            .select("doc_id", F.col("n").cast("bigint").alias("n_tokens"),
                    F.coalesce("n_spans_raw", F.lit(0)).cast("bigint")
                    .alias("n_spans_raw"),
                    F.coalesce("n_spans_merged", F.lit(0)).cast("bigint")
                    .alias("n_sentinels"),
                    F.coalesce("n_corrupted", F.lit(0)).cast("bigint")
                    .alias("n_corrupted"),
                    F.round(F.coalesce("n_corrupted", F.lit(0)) * 1.0
                            / F.col("n"), 6).alias("corruption_rate")))
