"""Corpus-hygiene operators for LLM training-data pipelines: benchmark
decontamination, within-document repetition signals, cross-document
boilerplate n-gram detection, and temperature-based source mixing.

These are the standard pre-training hygiene passes published in the
GPT-3 / Gopher / PaLM data-pipeline literature, expressed Spark-first:

- decontamination = n-gram overlap against a (small) eval set — the eval
  n-gram set is benchmark-sized, so it BROADCASTS and the corpus side is
  one narrow explode + broadcast join + per-doc aggregate;
- repetition / boilerplate = keyed aggregates over (doc, gram) and
  (gram) — vocabulary-sized shuffles with map-side partial aggregation,
  never all-pairs;
- temperature mixing = one grouped aggregate + an unbounded window
  normalize over the (tiny) per-source summary.

The reference has no corpus operators (SURVEY.md §2.5 declared-absent);
this module extends the engine the same way dedup.py / text.py do.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..registry import query
from ..tables import load_parallel

# 3-grams: the synthetic corpus has a ~30-word vocabulary, so trigrams
# are the smallest unit with real cross-document discrimination (judged
# empirically: 151 of 16k trigrams are shared by >= 5 docs, 4/5-grams
# almost never collide). Production corpora use 8-13-gram windows; the
# plan shape is identical, only N changes.
_NGRAM_N = 3
_BENCH_MOD = 97          # doc_id % 97 == 0 -> stand-in benchmark/eval set
_BOILER_MIN_DOCS = 5     # gram in >= 5 distinct docs -> boilerplate
_MIX_BUDGET = 10_000     # sampled docs in the temperature mix


def _grams_expr(n: int) -> str:
    """SQL expression producing the array of word n-grams of `ws`.

    Guarded so short docs yield an EMPTY array (bare sequence(1, k)
    counts DOWN when k < 1 and would fabricate grams)."""
    return (f"CASE WHEN size(ws) >= {n} THEN "
            f"transform(sequence(1, size(ws) - {n - 1}), "
            f"i -> concat_ws(' ', slice(ws, i, {n}))) "
            "ELSE array() END")


def _doc_grams(spark: SparkSession, sf_dir: str, n: int = _NGRAM_N) -> DataFrame:
    """(doc_id, gram) — one row per n-gram occurrence, narrow explode."""
    docs = load_parallel(spark, sf_dir, "documents")
    return (docs.select("doc_id", F.split("text", " ").alias("ws"))
            .select("doc_id", F.explode(F.expr(_grams_expr(n))).alias("gram")))


# DuckDB twin of _doc_grams: one row per n-gram occurrence.
_G_SQL = f"""
t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
gi AS (SELECT doc_id, w, unnest(generate_series(1, len(w) - {_NGRAM_N - 1})) AS i
       FROM t),
g AS (SELECT doc_id, array_to_string(list_slice(w, i, i + {_NGRAM_N - 1}), ' ')
             AS gram
      FROM gi)
"""


@query("corpus_decontamination", oracle=f"""
WITH {_G_SQL},
b AS (SELECT DISTINCT gram FROM g WHERE doc_id % {_BENCH_MOD} = 0),
h AS (SELECT g.doc_id, count(b.gram) AS nh
      FROM g LEFT JOIN b USING (gram)
      WHERE g.doc_id % {_BENCH_MOD} <> 0
      GROUP BY g.doc_id)
SELECT t.doc_id,
       CAST(coalesce(h.nh, 0) AS BIGINT) AS n_hits,
       coalesce(h.nh, 0) > 0 AS contaminated
FROM t LEFT JOIN h USING (doc_id)
WHERE t.doc_id % {_BENCH_MOD} <> 0
""")
def corpus_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents that share any
    word n-gram (N = _NGRAM_N) with the held-out eval set (docs with
    doc_id % _BENCH_MOD == 0 stand in for the benchmark) — the overlap
    filter every published pre-training pipeline runs so eval numbers
    aren't inflated by memorized test data.

    Scale shape: the benchmark n-gram set is EVAL-Sized (thousands of
    docs, not the corpus), so it broadcasts; the corpus side is one
    narrow explode + broadcast left join + per-doc count. No corpus-side
    shuffle except the final doc-keyed aggregate. At 100 TB the only
    change is hashing grams (sha2) before the join to keep the broadcast
    compact."""
    docs = load_parallel(spark, sf_dir, "documents")
    grams = (docs.select("doc_id", F.split("text", " ").alias("ws"))
             .select("doc_id",
                     F.explode_outer(F.expr(_grams_expr(_NGRAM_N)))
                     .alias("gram")))
    bench = (grams.filter(F.col("doc_id") % _BENCH_MOD == 0)
             .select("gram").distinct().withColumn("hit", F.lit(1)))
    corp = grams.filter(F.col("doc_id") % _BENCH_MOD != 0)
    return (corp.join(F.broadcast(bench), "gram", "left")
            .groupBy("doc_id")
            .agg(F.coalesce(F.sum("hit"), F.lit(0)).cast("bigint")
                 .alias("n_hits"))
            .withColumn("contaminated", F.col("n_hits") > 0))


@query("text_repetition_rates", oracle=f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
g2i AS (SELECT doc_id, w, unnest(generate_series(1, len(w) - 1)) AS i FROM t),
g2 AS (SELECT doc_id, array_to_string(list_slice(w, i, i + 1), ' ') AS gram
       FROM g2i),
c2 AS (SELECT doc_id, gram, count(*) AS c FROM g2 GROUP BY doc_id, gram),
r2 AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
              round(max(c) * 1.0 / sum(c), 6) AS top_bigram_frac
       FROM c2 GROUP BY doc_id),
g3i AS (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i FROM t),
g3 AS (SELECT doc_id, array_to_string(list_slice(w, i, i + 2), ' ') AS gram
       FROM g3i),
c3 AS (SELECT doc_id, gram, count(*) AS c FROM g3 GROUP BY doc_id, gram),
r3 AS (SELECT doc_id,
              round(sum(CASE WHEN c > 1 THEN c ELSE 0 END) * 1.0 / sum(c), 6)
                AS dup_trigram_frac
       FROM c3 GROUP BY doc_id)
SELECT r2.doc_id, r2.n_bigrams, r2.top_bigram_frac, r3.dup_trigram_frac
FROM r2 JOIN r3 USING (doc_id)
""")
def text_repetition_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition signals (the Gopher repetition rules):
    the fraction of bigram occurrences taken by the single most frequent
    bigram, and the fraction of trigram occurrences whose trigram repeats
    within the document — the two cheapest detectors for looped
    boilerplate and degenerate generations, run before any model-based
    quality scorer.

    Scale shape: two (doc_id, gram)-keyed counts with map-side partial
    aggregation, re-aggregated per doc; keys are doc-local so the
    shuffle is as wide as the corpus but never hot. The doc_id-keyed
    join of the two per-doc summaries co-partitions."""
    def per_doc(n: int, aggs) -> DataFrame:
        return (_doc_grams(spark, sf_dir, n)
                .groupBy("doc_id", "gram").agg(F.count(F.lit(1)).alias("c"))
                .groupBy("doc_id").agg(*aggs))

    r2 = per_doc(2, [
        F.sum("c").cast("bigint").alias("n_bigrams"),
        F.round(F.max("c") / F.sum("c"), 6).alias("top_bigram_frac")])
    r3 = per_doc(3, [
        F.round(F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0))
                / F.sum("c"), 6).alias("dup_trigram_frac")])
    return r2.join(r3, "doc_id")


@query("dedup_boilerplate_ngrams", oracle=f"""
WITH {_G_SQL},
df AS (SELECT gram, count(DISTINCT doc_id) AS nd FROM g GROUP BY gram),
b AS (SELECT gram FROM df WHERE nd >= {_BOILER_MIN_DOCS}),
per AS (SELECT g.doc_id,
               count(*) AS n_grams,
               count(b.gram) AS n_boiler
        FROM g LEFT JOIN b USING (gram) GROUP BY g.doc_id)
SELECT doc_id,
       CAST(n_grams AS BIGINT) AS n_grams,
       CAST(n_boiler AS BIGINT) AS n_boiler,
       round(n_boiler * 1.0 / n_grams, 6) AS boiler_frac
FROM per
""")
def dedup_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate detection: an n-gram appearing in >=
    _BOILER_MIN_DOCS distinct documents is boilerplate (headers,
    footers, license blurbs at web scale); each document reports what
    fraction of its n-gram occurrences are boilerplate — the per-doc
    signal line-level dedup pipelines threshold on.

    Scale shape: one gram-keyed count-distinct (the document-frequency
    table — vocabulary-sized, shuffled once with partial aggregation),
    filtered to the boilerplate set, then joined back to the occurrence
    stream. The boilerplate set is far smaller than the corpus and
    broadcasts; at 100 TB swap count(DISTINCT doc_id) for
    approx_count_distinct at the same plan shape.

    Round-5 plan study (SCALE.md "boilerplate variant study"): three
    alternative shapes were implemented and measured at sf0.1 —
    (a) narrow n_grams + inner-join hits (1.61s), (b) shared per-
    (doc,gram) pre-aggregate feeding both branches (1.61s; Catalyst
    prunes the count from the doc-frequency branch so the subtrees
    diverge and the exchange is NOT reused), (c) count-over-window by
    gram (1.34s but windows by the HOT key — boilerplate grams appear
    in many docs — so it trades a combiner'd aggregate for a skew
    hazard), (d) persisted pre-aggregate (2.36s — materialization cost
    dominates). This two-pass all-combiner form measured 1.42s isolated
    (the 3.0s in BENCH_r04 was full-run interleaving, like the round-3
    regression pair) and is the only shape with map-side partial
    aggregation on every corpus-wide edge, so it stays."""
    occ = _doc_grams(spark, sf_dir, _NGRAM_N)
    boiler = (occ.groupBy("gram")
              .agg(F.countDistinct("doc_id").alias("nd"))
              .filter(F.col("nd") >= _BOILER_MIN_DOCS)
              .select("gram").withColumn("b", F.lit(1)))
    return (occ.join(F.broadcast(boiler), "gram", "left")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_grams"),
                 F.count("b").cast("bigint").alias("n_boiler"))
            .withColumn("boiler_frac",
                        F.round(F.col("n_boiler") / F.col("n_grams"), 6)))


@query("corpus_temperature_mix", oracle=f"""
WITH s AS (SELECT source,
                  count(*) AS n_docs,
                  sum(len(string_split(text, ' '))) AS n_tokens
           FROM documents GROUP BY source),
wgt AS (SELECT source, n_docs, n_tokens, sqrt(CAST(n_tokens AS DOUBLE)) AS pw
        FROM s)
SELECT source,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       round(pw / sum(pw) OVER (), 6) AS mix_weight,
       CAST(floor(pw / sum(pw) OVER () * {_MIX_BUDGET}) AS BIGINT)
         AS expected_docs
FROM wgt
""")
def corpus_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source mixing: sampling weight per source
    proportional to n_tokens^alpha with alpha = 0.5 — the sub-linear
    reweighting that keeps huge web crawls from drowning small
    high-quality sources in the pre-training mix (the multilingual /
    multi-corpus sampling rule from the public LM literature).

    alpha = 0.5 deliberately: sqrt is correctly rounded IEEE in every
    engine, so the weights (and the floor() sample allocation) are
    bit-identical between Spark and the oracle — pow(x, 0.7) would not
    be. The normalizing sum runs as an unbounded window over the
    per-source summary (sources-sized, a few rows), not a 1-row join,
    which keeps the plan BNLJ-free.

    Scale shape: one grouped aggregate over the corpus (source-keyed,
    partial-aggregated), then window math over the tiny summary."""
    docs = load_parallel(spark, sf_dir, "documents")
    s = (docs.groupBy("source")
         .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
              F.sum(F.size(F.split("text", " "))).cast("bigint")
              .alias("n_tokens")))
    pw = F.sqrt(F.col("n_tokens").cast("double"))
    tot = F.sum(pw).over(W.partitionBy())
    return (s.withColumn("mix_weight", F.round(pw / tot, 6))
            .withColumn("expected_docs",
                        F.floor(pw / tot * _MIX_BUDGET).cast("bigint")))


_DOMAIN_CAP = 30        # max docs kept per source (C4-style per-domain cap)
_EPOCH_BUDGET = 10 ** 6  # token budget for the repeat/epoch schedule
_EPOCH_MAX = 4.0         # cap on per-source repeat factor


@query("corpus_domain_cap", oracle=f"""
WITH r AS (
  SELECT source, doc_id, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id) AS rn
  FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN rn <= {_DOMAIN_CAP} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept,
       CAST(sum(CASE WHEN rn > {_DOMAIN_CAP} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dropped,
       CAST(min(CASE WHEN rn <= {_DOMAIN_CAP} THEN n_chars END) AS BIGINT)
         AS min_kept_chars
FROM r GROUP BY source
""")
def corpus_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document caps — the C4/web-crawl hygiene rule that no
    single domain may dominate the corpus: keep at most _DOMAIN_CAP
    documents per source, preferring longer documents (n_chars DESC,
    doc_id tiebreak), and report the per-source keep/drop summary the
    pipeline publishes.

    The rank is a window partitioned by source — fine when domains are
    bounded (the cap itself guarantees the OUTPUT is); for a 100 TB
    crawl where one domain holds billions of pages, pre-filter with an
    approximate per-source count and sample before the exact window, or
    use the two-phase top-k (per-partition heap then merge) the
    sort_limit_topk operator demonstrates. Summary output is
    sources-sized."""
    docs = load_parallel(spark, sf_dir, "documents")
    rn = F.row_number().over(
        W.partitionBy("source").orderBy(F.desc("n_chars"), F.asc("doc_id")))
    r = docs.select("source", "doc_id", "n_chars").withColumn("rn", rn)
    kept = F.col("rn") <= _DOMAIN_CAP
    return (r.groupBy("source")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.sum(F.when(kept, 1).otherwise(0)).cast("bigint")
                 .alias("n_kept"),
                 F.sum(F.when(~kept, 1).otherwise(0)).cast("bigint")
                 .alias("n_dropped"),
                 F.min(F.when(kept, F.col("n_chars"))).cast("bigint")
                 .alias("min_kept_chars")))


@query("corpus_epoch_schedule", oracle=f"""
WITH s AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
wgt AS (
  SELECT source, n_docs, n_tokens,
         sqrt(CAST(n_tokens AS DOUBLE)) AS pw
  FROM s
)
SELECT source, n_docs, n_tokens,
       CAST(floor(pw / sum(pw) OVER () * {_EPOCH_BUDGET}) AS BIGINT)
         AS alloc_tokens,
       round(least({_EPOCH_MAX},
                   floor(pw / sum(pw) OVER () * {_EPOCH_BUDGET})
                     / CAST(n_tokens AS DOUBLE)), 4) AS epochs
FROM wgt
""")
def corpus_epoch_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source repeat/epoch schedule under a fixed token budget — the
    data-mixing step AFTER temperature weights are chosen (see
    corpus_temperature_mix): each source gets its sqrt-weighted share of
    _EPOCH_BUDGET tokens, expressed as the number of passes (epochs)
    over that source, capped at _EPOCH_MAX so small high-quality sources
    are up-sampled but never memorization-looped — the published
    repeat-factor recipe from the public LM data-mix literature.

    Arithmetic is engine-bit-stable by construction: sqrt (correctly
    rounded IEEE), floor to integer token allocations BEFORE the
    division, round(_, 4) on the final ratio. One source-keyed corpus
    aggregate + window math over the sources-sized summary."""
    docs = load_parallel(spark, sf_dir, "documents")
    s = (docs.groupBy("source")
         .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
              F.sum(F.size(F.split("text", " "))).cast("bigint")
              .alias("n_tokens")))
    pw = F.sqrt(F.col("n_tokens").cast("double"))
    tot = F.sum(pw).over(W.partitionBy())
    alloc = F.floor(pw / tot * _EPOCH_BUDGET).cast("bigint")
    return (s.withColumn("alloc_tokens", alloc)
            .withColumn("epochs",
                        F.round(F.least(
                            F.lit(_EPOCH_MAX),
                            F.col("alloc_tokens")
                            / F.col("n_tokens").cast("double")), 4)))


_REP_MAX = 0.02     # dup-trigram fraction above this -> repetitive (p95 here)
_BOILER_MAX = 0.06  # boilerplate fraction above this -> boilerplate (p90)
_DECON_N = 4        # pipeline decontamination gram size (3-grams over-fire
                    # at larger corpora: 94% of sf0.1 docs share a benchmark
                    # trigram vs 15% for 4-grams)
_BOILER_DF_FRAC = 0.004  # boilerplate doc-frequency threshold scales with
                         # corpus size: max(_BOILER_MIN_DOCS, 0.4% of docs)
                         # (absolute 5 marks 99% of sf0.1 trigram mass)


# Shared pipeline-grade decontamination fragments (single-source: both
# pipeline_corpus_hygiene and pipeline_corpus_release embed these, so the
# gram construction and eval-hit convention cannot drift between the two
# pipelines — the _DIFF_SQL / EMB_BAND_BUCKETS_SQL precedent). The CTE
# names are parameters because each pipeline composes them into a WITH
# body with its own namespace.

def _gram4_sql(base_t: str, gi: str, g: str) -> str:
    """CTE pair producing the (doc_id, gram) 4-gram stream from a base
    CTE `base_t` holding (doc_id, w: list<varchar>)."""
    return (f"{gi} AS (SELECT doc_id, w, "
            f"unnest(generate_series(1, len(w) - {_DECON_N - 1}))\n"
            f"               AS i FROM {base_t}),\n"
            f"{g} AS (SELECT doc_id, "
            f"array_to_string(list_slice(w, i, i + {_DECON_N - 1}), ' ')\n"
            f"              AS gram FROM {gi})")


def _decon_hits_sql(g: str, bset: str, hits: str) -> str:
    """CTE pair counting per-doc benchmark-gram hits from a gram stream
    CTE `g`: the eval set is docs with doc_id % _BENCH_MOD == 0."""
    return (f"{bset} AS (SELECT DISTINCT gram FROM {g} "
            f"WHERE doc_id % {_BENCH_MOD} = 0),\n"
            f"{hits} AS (SELECT {g}.doc_id, count({bset}.gram) AS nh\n"
            f"         FROM {g} LEFT JOIN {bset} USING (gram)\n"
            f"         WHERE {g}.doc_id % {_BENCH_MOD} <> 0 "
            f"GROUP BY {g}.doc_id)")


def _decon_hits(grams: DataFrame) -> DataFrame:
    """(doc_id, nh) benchmark-gram hit counts — the Spark twin of
    _decon_hits_sql over a (doc_id, gram) stream. Eval gram set is
    benchmark-sized and broadcasts; corpus side is one broadcast join +
    doc-keyed count."""
    bset = (grams.filter(F.col("doc_id") % _BENCH_MOD == 0)
            .select("gram").distinct().withColumn("hit", F.lit(1)))
    return (grams.filter(F.col("doc_id") % _BENCH_MOD != 0)
            .join(F.broadcast(bset), "gram", "left")
            .groupBy("doc_id")
            .agg(F.coalesce(F.sum("hit"), F.lit(0)).alias("nh")))


@query("pipeline_corpus_hygiene", oracle=f"""
WITH {_G_SQL},
{_gram4_sql("t", "g4i", "g4")},
toks AS (SELECT doc_id, len(w) AS n_tok FROM t),
nd_thr AS (SELECT greatest({_BOILER_MIN_DOCS},
                           CAST(ceil({_BOILER_DF_FRAC} * count(*)) AS BIGINT))
                    AS thr
           FROM documents),
c3 AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY doc_id, gram),
rep AS (SELECT doc_id,
               sum(CASE WHEN c > 1 THEN c ELSE 0 END) * 1.0 / sum(c) AS dup3
        FROM c3 GROUP BY doc_id),
{_decon_hits_sql("g4", "bset", "hits")},
df AS (SELECT gram, count(DISTINCT doc_id) AS nd FROM g GROUP BY gram),
bl AS (SELECT g.doc_id, count(*) AS ng,
              count(CASE WHEN df.nd >= nd_thr.thr THEN 1 END) AS nb
       FROM g JOIN df USING (gram) CROSS JOIN nd_thr GROUP BY g.doc_id),
flags AS (
  SELECT d.doc_id, d.source, toks.n_tok,
         coalesce(hits.nh, 0) > 0 AS contaminated,
         coalesce(rep.dup3, 0) > {_REP_MAX} AS repetitive,
         coalesce(bl.nb * 1.0 / bl.ng, 0) > {_BOILER_MAX} AS boilerplate
  FROM documents d
  JOIN toks USING (doc_id)
  LEFT JOIN hits USING (doc_id)
  LEFT JOIN rep USING (doc_id)
  LEFT JOIN bl USING (doc_id)
  WHERE d.doc_id % {_BENCH_MOD} <> 0
),
src AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_total,
         CAST(sum(CASE WHEN contaminated THEN 1 ELSE 0 END) AS BIGINT)
           AS n_contaminated,
         CAST(sum(CASE WHEN repetitive THEN 1 ELSE 0 END) AS BIGINT)
           AS n_repetitive,
         CAST(sum(CASE WHEN boilerplate THEN 1 ELSE 0 END) AS BIGINT)
           AS n_boilerplate,
         CAST(sum(CASE WHEN NOT (contaminated OR repetitive OR boilerplate)
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         sum(CASE WHEN NOT (contaminated OR repetitive OR boilerplate)
                  THEN n_tok ELSE 0 END) AS kept_tokens
  FROM flags GROUP BY source
)
SELECT source, n_total, n_contaminated, n_repetitive, n_boilerplate, n_kept,
       CASE WHEN sum(sqrt(CAST(kept_tokens AS DOUBLE))) OVER () > 0
            THEN round(sqrt(CAST(kept_tokens AS DOUBLE))
                       / sum(sqrt(CAST(kept_tokens AS DOUBLE))) OVER (), 6)
            ELSE 0.0 END AS kept_mix_weight
FROM src
""")
def pipeline_corpus_hygiene(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full hygiene pass as ONE composed plan — the corpus_hygiene
    family chained the way a production pre-training pipeline runs it:
    per-doc repetition scoring, benchmark decontamination (4-grams — the
    corpus-size-robust unit, see _DECON_N), boilerplate fraction with a
    document-frequency threshold that SCALES with corpus size
    (_BOILER_DF_FRAC), a keep/drop verdict per document, and a
    per-source summary with the temperature mix recomputed over the
    SURVIVING tokens only (guarded: a fully-filtered corpus yields
    weight 0, not a divide-by-zero). Companion to pipeline_llm_corpus
    (langid/quality/near-dup); together they cover the standard stages.

    Scale shape: two n-gram occurrence streams (3- and 4-gram) are
    produced once and consumed by doc-keyed / gram-keyed aggregates
    (persisted for the single action); every join back onto documents
    is doc-keyed; the per-source summary is sources-sized with the
    unbounded-window normalize of corpus_temperature_mix. The
    boilerplate threshold folds a driver-side corpus count into the
    plan — the same literal-folding budget rule as k-means centroids."""
    import math

    docs = load_parallel(spark, sf_dir, "documents")
    n_docs = docs.count()
    nd_thr = max(_BOILER_MIN_DOCS, math.ceil(_BOILER_DF_FRAC * n_docs))
    base = docs.select("doc_id", "source", F.split("text", " ").alias("ws"))
    toks = base.select("doc_id", F.size("ws").alias("n_tok"))
    occ3 = (base.select("doc_id", F.explode(F.expr(_grams_expr(_NGRAM_N)))
                        .alias("gram")).persist())
    occ4 = base.select("doc_id", F.explode(F.expr(_grams_expr(_DECON_N)))
                       .alias("gram"))

    rep = (occ3.groupBy("doc_id", "gram").agg(F.count(F.lit(1)).alias("c"))
           .groupBy("doc_id")
           .agg((F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0))
                 / F.sum("c")).alias("dup3")))
    hits = _decon_hits(occ4)
    boiler = (occ3.groupBy("gram")
              .agg(F.countDistinct("doc_id").alias("nd"))
              .filter(F.col("nd") >= nd_thr)
              .select("gram").withColumn("b", F.lit(1)))
    bl = (occ3.join(F.broadcast(boiler), "gram", "left")
          .groupBy("doc_id")
          .agg(F.count(F.lit(1)).alias("ng"), F.count("b").alias("nb")))

    flags = (docs.filter(F.col("doc_id") % _BENCH_MOD != 0)
             .select("doc_id", "source")
             .join(toks, "doc_id")
             .join(hits, "doc_id", "left")
             .join(rep, "doc_id", "left")
             .join(bl, "doc_id", "left")
             .select(
                 "doc_id", "source", "n_tok",
                 (F.coalesce(F.col("nh"), F.lit(0)) > 0).alias("contaminated"),
                 (F.coalesce(F.col("dup3"), F.lit(0.0)) > _REP_MAX)
                 .alias("repetitive"),
                 (F.coalesce(F.col("nb") / F.col("ng"), F.lit(0.0))
                  > _BOILER_MAX).alias("boilerplate")))
    dropped = F.col("contaminated") | F.col("repetitive") | F.col("boilerplate")
    src = (flags.groupBy("source")
           .agg(F.count(F.lit(1)).cast("bigint").alias("n_total"),
                F.sum(F.when(F.col("contaminated"), 1).otherwise(0))
                .cast("bigint").alias("n_contaminated"),
                F.sum(F.when(F.col("repetitive"), 1).otherwise(0))
                .cast("bigint").alias("n_repetitive"),
                F.sum(F.when(F.col("boilerplate"), 1).otherwise(0))
                .cast("bigint").alias("n_boilerplate"),
                F.sum(F.when(~dropped, 1).otherwise(0))
                .cast("bigint").alias("n_kept"),
                F.sum(F.when(~dropped, F.col("n_tok")).otherwise(0))
                .alias("kept_tokens")))
    pw = F.sqrt(F.col("kept_tokens").cast("double"))
    tot = F.sum(pw).over(W.partitionBy())
    return (src.withColumn(
        "kept_mix_weight",
        F.when(tot > 0, F.round(pw / tot, 6)).otherwise(F.lit(0.0)))
        .drop("kept_tokens"))


# ---------------------------------------------------------------------------
# Quality-tier report (ensemble score -> tier -> per-source token accounting).

_TIER_MID = 0.50    # rounded quality >= this -> at least 'mid'
_TIER_HIGH = 0.54   # rounded quality >= this -> 'high'


@query("quality_tier_report", oracle=f"""
WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS w
           FROM documents),
m AS (SELECT doc_id, source,
             CAST(len(w) AS DOUBLE) AS n,
             CAST(len(list_distinct(w)) AS DOUBLE) AS nd
      FROM t),
s AS (SELECT source, n,
             round(0.4 * least(n / 100.0, 1.0) + 0.6 * (nd / n), 6) AS q
      FROM m),
tiered AS (
  SELECT source, n, q,
         CASE WHEN q >= {_TIER_HIGH} THEN 'high'
              WHEN q >= {_TIER_MID} THEN 'mid'
              ELSE 'low' END AS tier
  FROM s
)
SELECT source, tier,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n) AS BIGINT) AS n_tokens,
       round(sum(CAST(round(q * 1000000) AS BIGINT)) / (count(*) * 1000000.0),
             6) AS avg_quality
FROM tiered GROUP BY source, tier
""")
def quality_tier_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality tiering: bucket every document into high/mid/low quality
    tiers by the composite score text_quality_score publishes, then
    report per-(source, tier) document and token counts — the accounting
    table a data team reads to decide which sources to up/down-sample
    (the DataComp / FineWeb quality-partition recipe).

    Tier cuts compare the ROUNDED score on both engines, so a document
    sitting exactly on a threshold cannot tier differently between Spark
    and the oracle. Scale shape: one narrow scan computes the score
    (split once, array stats, no shuffle), one (source, tier)-keyed
    partial aggregate — identical to a GROUP BY over ~3x|sources| cells.
    Thresholds 0.50/0.54 split the fixture corpus ~28/48/24%.

    The per-tier mean quality is computed as an INTEGER micro-unit sum
    (round(q*1e6) per doc, exact bigint addition) divided once at the
    end: a float avg() over the rounded scores summed in engine-specific
    order can land exactly on a 6-digit rounding boundary and disagree
    in the last digit (observed on the fixture: 0.481715 vs 0.481716)."""
    m = (load_parallel(spark, sf_dir, "documents")
         .select("source", F.split("text", " ").alias("w"))
         .select("source",
                 F.size("w").cast("double").alias("n"),
                 F.size(F.array_distinct("w")).cast("double").alias("nd")))
    q = F.round(0.4 * F.least(F.col("n") / 100.0, F.lit(1.0))
                + 0.6 * (F.col("nd") / F.col("n")), 6)
    tiered = m.select(
        "source", "n",
        F.round(q * 1000000).cast("bigint").alias("qmicro"),
        F.when(q >= _TIER_HIGH, "high")
         .when(q >= _TIER_MID, "mid")
         .otherwise("low").alias("tier"))
    return (tiered.groupBy("source", "tier")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n").cast("bigint").alias("n_tokens"),
                 F.round(F.sum("qmicro")
                         / (F.count(F.lit(1)) * 1000000.0), 6)
                 .alias("avg_quality")))


# DSIR hashed-feature space: 8-bit bucket count keeps the bucket model
# a trivially-broadcast 256-row table at any corpus size (the paper
# uses 10k buckets; the plan shape is identical, only B changes).
_DSIR_B = 256


@query("corpus_dsir_importance", oracle=f"""
WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS w
           FROM documents),
uni AS (SELECT doc_id, lang, unnest(w) AS f FROM t),
bi AS (SELECT doc_id, lang,
              w[CAST(i AS INTEGER)] || ' ' || w[CAST(i AS INTEGER) + 1] AS f
       FROM (SELECT doc_id, lang, w, unnest(range(1, len(w))) AS i FROM t)),
feats AS (
  SELECT doc_id, lang,
         ('0x' || substr(md5(f), 1, 8))::BIGINT % {_DSIR_B} AS b
  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)),
raw AS (SELECT b, count(*) AS n_raw FROM feats GROUP BY b),
tgt AS (SELECT b, count(*) AS n_tgt FROM feats WHERE lang = 'en'
        GROUP BY b),
tots AS (SELECT (SELECT sum(n_raw) FROM raw) AS t_raw,
                (SELECT coalesce(sum(n_tgt), 0) FROM tgt) AS t_tgt),
model AS (
  SELECT r.b, CAST(r.n_raw AS BIGINT) AS n_raw,
         CAST(coalesce(g.n_tgt, 0) AS BIGINT) AS n_tgt,
         CAST(round((ln((coalesce(g.n_tgt, 0) + 1.0)
                         / (s.t_tgt + {_DSIR_B}))
                     - ln((r.n_raw + 1.0) / (s.t_raw + {_DSIR_B})))
                    * 1000000000) AS BIGINT) AS lr_n
  FROM raw r LEFT JOIN tgt g USING (b) CROSS JOIN tots s),
dcount AS (SELECT doc_id, b, count(*) AS m FROM feats GROUP BY doc_id, b)
SELECT d.doc_id,
       CAST(sum(d.m) AS BIGINT) AS n_feats,
       round(sum(d.m * mo.lr_n) / 1000000000.0, 6) AS logw,
       round(sum(d.m * mo.lr_n) / 1000000000.0 / sum(d.m), 6)
         AS logw_per_feat
FROM dcount d JOIN model mo USING (b)
GROUP BY d.doc_id
""")
def corpus_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weighting (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every raw
    document by how target-like its HASHED n-gram profile is. Unigram
    + bigram features hash into B={_DSIR_B} buckets; a bag-of-buckets
    multinomial is fit to the target slice (lang='en' stands in for the
    curated target domain) and to the full raw corpus (add-1
    smoothed); each doc's importance log-weight is sum_b m_b *
    (ln p_target(b) - ln p_raw(b)). Downstream, corpus_importance_
    resample-style survival on exp(logw) implements the paper's
    resampling step; the per-feature-normalized column makes scores
    comparable across lengths.

    Scale shape: feature extraction is a narrow explode (the n-gram
    scan every hygiene pass already pays); both bucket models come
    from ONE combiner'd groupBy on an 8-bit key; the model is a
    {_DSIR_B}-row broadcast; per-doc scoring is one combiner'd
    (doc, bucket) count joined map-side. No vocabulary-sized state
    ever shuffles — that is the point of the hashed feature space.
    Log-ratios snap to a 9-digit grid so engine ulp drift dies before
    the weighted sum."""
    docs = load_parallel(spark, sf_dir, "documents")
    ws = F.split("text", " ")
    bi_expr = F.expr(
        "CASE WHEN size(w) >= 2 THEN "
        "transform(sequence(1, size(w) - 1), "
        "i -> concat_ws(' ', w[i - 1], w[i])) "
        "ELSE cast(array() as array<string>) END")
    base = docs.select("doc_id", "lang", ws.alias("w"))
    feats = (base
             .select("doc_id", "lang",
                     F.explode(F.concat(F.col("w"), bi_expr)).alias("f"))
             .select("doc_id", "lang",
                     (F.conv(F.substring(F.md5("f"), 1, 8), 16, 10)
                      .cast("bigint") % _DSIR_B).alias("b")))
    raw = feats.groupBy("b").agg(F.count(F.lit(1)).alias("n_raw"))
    tgt = (feats.filter(F.col("lang") == "en")
           .groupBy("b").agg(F.count(F.lit(1)).alias("n_tgt")))
    model = (raw.join(tgt, "b", "left")
             .withColumn("n_tgt", F.coalesce("n_tgt", F.lit(0))))
    tots = model.agg(F.sum("n_raw").alias("t_raw"),
                     F.sum("n_tgt").alias("t_tgt"))
    # log-ratios live on an exact INTEGER nano-unit grid: summing
    # m * (9-digit double) is order-sensitive in the last ulp and one
    # sf0.1 doc landed exactly on the 6-digit rounding half-boundary
    # (0.0186705) — bigint sums cannot drift (MMR's micro-unit idiom).
    lr_n = F.round(
        (F.log((F.col("n_tgt") + 1.0) / (F.col("t_tgt") + _DSIR_B))
         - F.log((F.col("n_raw") + 1.0) / (F.col("t_raw") + _DSIR_B)))
        * 1000000000).cast("bigint")
    model = (model.crossJoin(F.broadcast(tots))
             .select("b", F.col("n_raw").cast("bigint").alias("n_raw"),
                     F.col("n_tgt").cast("bigint").alias("n_tgt"),
                     lr_n.alias("lr_n")))
    dcount = feats.groupBy("doc_id", "b").agg(F.count(F.lit(1)).alias("m"))
    s_n = F.sum(F.col("m") * F.col("lr_n"))
    return (dcount.join(F.broadcast(model), "b")
            .groupBy("doc_id")
            .agg(F.sum("m").cast("bigint").alias("n_feats"),
                 F.round(s_n / 1000000000.0, 6).alias("logw"),
                 F.round(s_n / 1000000000.0 / F.sum("m"), 6)
                 .alias("logw_per_feat")))


# Gopher rule thresholds (Rae et al. 2021, Appendix A) — word-count
# bounds, mean-word-length band, minimum alphabetic-word fraction,
# maximum symbol-word ratio, minimum stopword hits.
_GOPHER_MIN_WORDS = 50
_GOPHER_MAX_WORDS = 100_000
_GOPHER_MIN_MWL = 3.0
_GOPHER_MAX_MWL = 10.0
_GOPHER_MIN_ALPHA = 0.8
_GOPHER_MAX_SYMBOL = 0.1
_GOPHER_MIN_STOP = 2

from .text import STOPWORDS, _STOP_SQL  # noqa: E402


@query("corpus_gopher_quality_rules", oracle=f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
m AS (
  SELECT doc_id,
         len(w) AS n_words,
         list_aggregate(list_transform(w, x -> len(x)), 'sum') AS sum_len,
         len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]')))
           AS n_alpha,
         len(list_filter(w, x -> x = '#' OR x = '...')) AS n_symbol,
         len(list_filter(w, x -> x IN {_STOP_SQL})) AS n_stop
  FROM t)
SELECT doc_id,
       CAST(n_words AS BIGINT) AS n_words,
       round(sum_len * 1.0 / n_words, 6) AS mean_word_len,
       round(n_alpha * 1.0 / n_words, 6) AS alpha_frac,
       CAST(n_stop AS BIGINT) AS n_stop,
       CAST(CASE WHEN n_words >= {_GOPHER_MIN_WORDS}
                  AND n_words <= {_GOPHER_MAX_WORDS} THEN 1 ELSE 0 END
            AS BIGINT) AS pass_words,
       CAST(CASE WHEN sum_len * 1.0 / n_words >= {_GOPHER_MIN_MWL}
                  AND sum_len * 1.0 / n_words <= {_GOPHER_MAX_MWL}
            THEN 1 ELSE 0 END AS BIGINT) AS pass_wordlen,
       CAST(CASE WHEN n_alpha * 1.0 / n_words >= {_GOPHER_MIN_ALPHA}
            THEN 1 ELSE 0 END AS BIGINT) AS pass_alpha,
       CAST(CASE WHEN n_symbol * 1.0 / n_words <= {_GOPHER_MAX_SYMBOL}
            THEN 1 ELSE 0 END AS BIGINT) AS pass_symbol,
       CAST(CASE WHEN n_stop >= {_GOPHER_MIN_STOP} THEN 1 ELSE 0 END
            AS BIGINT) AS pass_stop,
       CAST(CASE WHEN n_words >= {_GOPHER_MIN_WORDS}
                  AND n_words <= {_GOPHER_MAX_WORDS}
                  AND sum_len * 1.0 / n_words >= {_GOPHER_MIN_MWL}
                  AND sum_len * 1.0 / n_words <= {_GOPHER_MAX_MWL}
                  AND n_alpha * 1.0 / n_words >= {_GOPHER_MIN_ALPHA}
                  AND n_symbol * 1.0 / n_words <= {_GOPHER_MAX_SYMBOL}
                  AND n_stop >= {_GOPHER_MIN_STOP}
            THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM m
""")
def corpus_gopher_quality_rules(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Gopher quality-filter rules (Rae et al. 2021, Appendix A) as one
    narrow scan: per document — word-count bounds
    [{_GOPHER_MIN_WORDS}, {_GOPHER_MAX_WORDS}], mean-word-length band
    [{_GOPHER_MIN_MWL}, {_GOPHER_MAX_MWL}], >= {_GOPHER_MIN_ALPHA}
    alphabetic-word fraction, <= {_GOPHER_MAX_SYMBOL} symbol-word
    ratio ('#'/'...'), >= {_GOPHER_MIN_STOP} stopword hits — each rule
    a flag plus the conjunctive keep bit, so downstream mixes can both
    FILTER on keep and AUDIT which rule rejects what (the reporting
    shape every production quality pipeline needs; text_quality_score
    is the continuous-score sibling, this is the hard-rule sibling).

    Rule predicates compare INTEGER counts (n_words, sum_len, n_alpha,
    n_symbol, n_stop) cross-multiplied against rational thresholds —
    sum_len * 1.0 / n_words >= 3.0 is exact for the values either
    engine produces (a ratio of bigints vs a short decimal); reported
    ratios round to the 6-digit grid for display only, never feeding a
    predicate. Scale shape: ZERO shuffles — one whole-stage-codegen
    projection over the documents scan (split once at a projection
    boundary, five array folds); at 100 TB this runs at scan bandwidth
    and partitions trivially."""
    docs = load_parallel(spark, sf_dir, "documents")
    m = (docs.select("doc_id", F.split("text", " ").alias("w"))
         .select(
             "doc_id",
             F.size("w").alias("n_words"),
             F.aggregate(F.transform("w", F.length),
                         F.lit(0), lambda a, x: a + x).alias("sum_len"),
             F.size(F.filter("w", lambda x: x.rlike("[A-Za-z]")))
             .alias("n_alpha"),
             F.size(F.filter("w", lambda x: (x == "#") | (x == "...")))
             .alias("n_symbol"),
             F.size(F.filter("w", lambda x: x.isin(STOPWORDS)))
             .alias("n_stop")))
    nw = F.col("n_words").cast("double")
    p_words = ((F.col("n_words") >= _GOPHER_MIN_WORDS)
               & (F.col("n_words") <= _GOPHER_MAX_WORDS))
    mwl = F.col("sum_len") * 1.0 / nw
    p_wordlen = (mwl >= _GOPHER_MIN_MWL) & (mwl <= _GOPHER_MAX_MWL)
    p_alpha = F.col("n_alpha") * 1.0 / nw >= _GOPHER_MIN_ALPHA
    p_symbol = F.col("n_symbol") * 1.0 / nw <= _GOPHER_MAX_SYMBOL
    p_stop = F.col("n_stop") >= _GOPHER_MIN_STOP

    def bit(c):
        return F.when(c, 1).otherwise(0).cast("bigint")

    return m.select(
        "doc_id",
        F.col("n_words").cast("bigint").alias("n_words"),
        F.round(F.col("sum_len") / nw, 6).alias("mean_word_len"),
        F.round(F.col("n_alpha") / nw, 6).alias("alpha_frac"),
        F.col("n_stop").cast("bigint").alias("n_stop"),
        bit(p_words).alias("pass_words"),
        bit(p_wordlen).alias("pass_wordlen"),
        bit(p_alpha).alias("pass_alpha"),
        bit(p_symbol).alias("pass_symbol"),
        bit(p_stop).alias("pass_stop"),
        bit(p_words & p_wordlen & p_alpha & p_symbol & p_stop)
        .alias("keep"))


# Semantic decontamination: eval slice + cosine threshold. The eval
# stand-in reuses corpus_decontamination's doc_id % 97 convention on
# vec_ids so the two passes audit the same held-out identity space.
_SEMDECON_MOD = 97
_SEMDECON_TAU = "0.4"   # exact decimal literal, both engines


@query("corpus_decontamination_semantic", oracle=f"""
WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
e AS (SELECT * FROM e0
      WHERE list_aggregate(list_transform(emb, x -> x * x), 'sum') > 0),
ev AS (SELECT * FROM e WHERE vec_id % {_SEMDECON_MOD} = 0),
tr AS (SELECT * FROM e WHERE vec_id % {_SEMDECON_MOD} <> 0),
scored AS (
  SELECT tr.vec_id, ev.vec_id AS eval_id,
         round(list_cosine_similarity(tr.emb, ev.emb), 6) AS cos
  FROM tr JOIN ev ON true),
best AS (
  SELECT vec_id, eval_id, cos FROM (
    SELECT vec_id, eval_id, cos,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cos DESC, eval_id) AS rn
    FROM scored) WHERE rn = 1)
SELECT vec_id, eval_id AS nearest_eval_id, cos AS max_cos,
       cos >= {_SEMDECON_TAU} AS contaminated
FROM best
""")
def corpus_decontamination_semantic(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """SEMANTIC decontamination: flag training vectors whose embedding
    sits within cosine {_SEMDECON_TAU} of ANY held-out eval vector
    (vec_id % {_SEMDECON_MOD} == 0 stands in for the benchmark, the
    same held-out convention as the n-gram pass). N-gram
    decontamination (corpus_decontamination) catches verbatim leakage;
    paraphrased or translated eval items share no n-grams and only the
    embedding-space pass catches them — production pipelines run BOTH,
    and this pair is that audit. Output keeps the nearest eval id and
    score so a flagged doc is reviewable, not just dropped.

    Physical shape is the exact brute-force eval sweep: the EVAL side
    is benchmark-sized, so it BROADCASTS (sim_topk_cosine's posture)
    and cost is |train| x |eval| dot products in one narrow pass —
    at 100 TB, the same banded sign-LSH that powers
    dedup_embedding_lsh drops in as the candidate generator when
    |eval| outgrows the broadcast budget (equi-join on band buckets,
    union of tables, exact rerank — machinery already in this repo).
    Zero-norm vectors are excluded fleet-wide per the degenerate-
    embeddings convention; ranking compares ROUNDED cosines with
    eval-id tie-break, so the nearest-eval attribution is
    engine-stable."""
    from ..functions.vector import dot_col, l2norm_col

    emb = (load_parallel(spark, sf_dir, "embeddings")
           .select("vec_id", "embedding",
                   l2norm_col(F.col("embedding")).alias("nrm"))
           .filter(F.col("nrm") > 0))
    ev = (emb.filter(F.col("vec_id") % _SEMDECON_MOD == 0)
          .select(F.col("vec_id").alias("eval_id"),
                  F.col("embedding").alias("ee"), F.col("nrm").alias("en")))
    tr = (emb.filter(F.col("vec_id") % _SEMDECON_MOD != 0)
          .select("vec_id", F.col("embedding").alias("te"),
                  F.col("nrm").alias("tn")))
    scored = (tr.crossJoin(F.broadcast(ev))
              .select("vec_id", "eval_id",
                      F.round(dot_col(F.col("te"), F.col("ee"))
                              / (F.col("tn") * F.col("en")), 6)
                      .alias("cos")))
    w = W.partitionBy("vec_id").orderBy(F.desc("cos"), F.asc("eval_id"))
    return (scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vec_id", F.col("eval_id").alias("nearest_eval_id"),
                    F.col("cos").alias("max_cos"),
                    (F.col("cos") >= float(_SEMDECON_TAU))
                    .alias("contaminated")))


# Composed contamination audit: both oracles are reused VERBATIM as
# CTE bodies, so the report can never drift from its two constituent
# passes (the EMB_BAND_BUCKETS_SQL single-source precedent).
from ..registry import ORACLE_SQL as _OSQL  # noqa: E402

_CONTAM_REPORT_ORACLE = f"""
WITH ng AS ({_OSQL["corpus_decontamination"]}),
sem AS ({_OSQL["corpus_decontamination_semantic"]})
SELECT ng.doc_id, ng.n_hits, sem.max_cos,
       CASE WHEN ng.contaminated AND coalesce(sem.contaminated, false)
              THEN 'both'
            WHEN ng.contaminated THEN 'ngram'
            WHEN coalesce(sem.contaminated, false) THEN 'semantic'
            ELSE 'clean' END AS flagged_by
FROM ng LEFT JOIN sem ON sem.vec_id = ng.doc_id
"""


@query("corpus_contamination_report", oracle=_CONTAM_REPORT_ORACLE)
def corpus_contamination_report(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """The UNIFIED decontamination verdict: every training document
    audited in BOTH spaces at once — verbatim n-gram overlap with the
    eval set (corpus_decontamination) and embedding-space proximity to
    it (corpus_decontamination_semantic, vec_id == doc_id row
    alignment, the corpus_dedup_cascade convention) — with a per-doc
    flagged_by verdict (ngram / semantic / both / clean). This is the
    table a data-governance review actually reads: verbatim leaks and
    paraphrase leaks have different remediations (span removal vs doc
    drop), so the pipeline needs to know WHICH detector fired.

    Pure composition: both constituent queries are invoked as
    registered callables and their ORACLES are embedded verbatim as
    CTEs, so the report is definitionally consistent with its parts.
    The join keys doc_id == vec_id (LEFT join — docs without a usable
    embedding, e.g. zero-norm, keep their n-gram verdict with a NULL
    max_cos). At 100 TB: one doc-keyed equi-join of two audit outputs,
    each already scale-disciplined in its own right."""
    ng = corpus_decontamination(spark, sf_dir).select(
        "doc_id", "n_hits", F.col("contaminated").alias("ng_c"))
    sem = corpus_decontamination_semantic(spark, sf_dir).select(
        F.col("vec_id").alias("doc_id"), "max_cos",
        F.col("contaminated").alias("sem_c"))
    sem_c = F.coalesce(F.col("sem_c"), F.lit(False))
    return (ng.join(sem, "doc_id", "left")
            .select("doc_id", "n_hits", "max_cos",
                    F.when(F.col("ng_c") & sem_c, "both")
                    .when(F.col("ng_c"), "ngram")
                    .when(sem_c, "semantic")
                    .otherwise("clean").alias("flagged_by")))


# Influence tracing: stop-gram df cap (the winnowing/_WIN_DF_CAP
# precedent) and report width.
_INFL_DF_CAP, _INFL_TOP = 50, 3


@query("corpus_influence_tracing", eager=True, oracle=f"""
WITH {_G_SQL},
gd AS (SELECT DISTINCT doc_id, gram FROM g),
tr AS (SELECT doc_id, gram FROM gd WHERE doc_id % {_BENCH_MOD} <> 0),
ev AS (SELECT doc_id, gram FROM gd WHERE doc_id % {_BENCH_MOD} = 0),
nt AS (SELECT count(DISTINCT doc_id) AS n FROM tr),
dfc AS (SELECT gram, count(*) AS df FROM tr GROUP BY gram
        HAVING count(*) <= {_INFL_DF_CAP}),
w AS (SELECT dfc.gram,
             CAST(round(log2(nt.n * 1.0 / dfc.df) * 1000000.0) AS BIGINT)
               AS idf_micro
      FROM dfc CROSS JOIN nt),
sc AS (
  SELECT ev.doc_id AS eval_doc, tr.doc_id AS train_doc,
         count(*) AS n_shared, sum(w.idf_micro) AS score_micro
  FROM ev JOIN w USING (gram) JOIN tr USING (gram)
  GROUP BY ev.doc_id, tr.doc_id),
rk AS (
  SELECT *, row_number() OVER (PARTITION BY eval_doc
                               ORDER BY score_micro DESC, train_doc) AS rnk
  FROM sc)
SELECT eval_doc, train_doc, CAST(n_shared AS BIGINT) AS n_shared,
       CAST(score_micro AS BIGINT) AS score_micro, CAST(rnk AS BIGINT) AS rnk
FROM rk WHERE rnk <= {_INFL_TOP}
""")
def corpus_influence_tracing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINING-DATA INFLUENCE TRACING by n-gram provenance — the
    attribution question ("WHICH training documents does this eval
    item's content come from?") that decontamination's binary flag
    doesn't answer; the n-gram/suffix-array overlap flavor of data
    attribution used for memorization forensics (Lee et al. 2022's
    dedup-memorization link; Carlini et al. 2023 extraction audits
    trace memorized spans to their source docs the same way). For each
    benchmark doc (doc_id % {_BENCH_MOD} == 0, the decontamination
    stand-in), every training doc sharing distinct {_NGRAM_N}-grams is
    scored by the sum of IDF weights of the shared grams (rare shared
    grams = strong provenance; common ones say nothing), and the
    top-{_INFL_TOP} sources per eval item ship with their shared-gram
    counts — the review queue a memorization audit hands to humans.

    Determinism: IDF = log2(n_train/df) snapped to integer MICRO-units
    per gram; pair scores are int64 sums of those micro-weights
    (summation order free), and the ranking breaks ties on train_doc.

    Scale shape: distinct (doc, gram) both sides, df aggregate, then a
    gram-keyed equi-join whose fan-out is bounded by the
    {_INFL_DF_CAP}-doc stop-gram cap (dropping high-df grams is the
    winnowing/_WIN_DF_CAP guard AND better attribution — boilerplate
    carries no provenance signal): per eval gram at most
    {_INFL_DF_CAP} candidate rows, so the join is |eval grams| x
    bounded-df, never |eval| x |corpus|. The idf table broadcasts
    (<= distinct-gram rows after the cap)."""
    gd = _doc_grams(spark, sf_dir).distinct()
    tr = gd.filter(F.col("doc_id") % _BENCH_MOD != 0)
    ev = (gd.filter(F.col("doc_id") % _BENCH_MOD == 0)
          .select(F.col("doc_id").alias("eval_doc"), "gram"))
    tr = tr.localCheckpoint()
    nt = tr.select("doc_id").distinct().count()
    w = (tr.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
         .filter(F.col("df") <= _INFL_DF_CAP)
         .select("gram",
                 F.round(F.log2(F.lit(float(nt)) * 1.0 / F.col("df"))
                         * 1000000.0, 0).cast("bigint").alias("idf_micro")))
    sc = (ev.join(w, "gram")
          .join(tr.select(F.col("doc_id").alias("train_doc"), "gram"),
                "gram")
          .groupBy("eval_doc", "train_doc")
          .agg(F.count(F.lit(1)).alias("n_shared"),
               F.sum("idf_micro").alias("score_micro")))
    from pyspark.sql import Window as W
    rnk = F.row_number().over(
        W.partitionBy("eval_doc").orderBy(F.desc("score_micro"),
                                          F.asc("train_doc")))
    return (sc.withColumn("rnk", rnk.cast("bigint"))
            .filter(F.col("rnk") <= _INFL_TOP)
            .select("eval_doc", "train_doc",
                    F.col("n_shared").cast("bigint").alias("n_shared"),
                    F.col("score_micro").cast("bigint").alias("score_micro"),
                    "rnk"))


# Competence-based curriculum: difficulty = rare-token fraction (corpus
# df <= _CURR_RARE_DF), docs split into _CURR_STAGES ntile stages, and
# training step k samples from stages 1..k (competence k/STAGES).
_CURR_RARE_DF, _CURR_STAGES = 20, 5

# Shared difficulty CTE chain (single-source: corpus_curriculum_order's
# oracle and the release pipeline's curriculum stage embed it verbatim,
# so the two can never drift — the EMB_BAND_BUCKETS_SQL precedent).
_DIFF_SQL = f"""t0 AS (SELECT doc_id, string_split(lower(text), ' ') AS w
            FROM documents),
tok AS (SELECT doc_id, unnest(w) AS word FROM t0),
tk AS (SELECT doc_id, word FROM tok WHERE word <> ''),
df AS (SELECT word, count(DISTINCT doc_id) AS df FROM tk GROUP BY word),
diff AS (
  SELECT t.doc_id,
         CAST(round(1000000.0
              * sum(CASE WHEN df.df <= {_CURR_RARE_DF} THEN 1 ELSE 0 END)
              / count(*)) AS BIGINT) AS difficulty_micro
  FROM tk t JOIN df ON df.word = t.word
  GROUP BY t.doc_id)"""


def _difficulty_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, difficulty_micro) — the corpus-wide rare-token-fraction
    difficulty score, the Spark twin of _DIFF_SQL. Shared by
    corpus_curriculum_order and the release pipeline."""
    docs = load_parallel(spark, sf_dir, "documents")
    tk = (docs.select(
            "doc_id",
            F.explode(F.split(F.lower("text"), " ")).alias("word"))
          .filter(F.col("word") != ""))
    dfw = tk.groupBy("word").agg(
        F.countDistinct("doc_id").alias("df"))
    return (tk.join(dfw, "word")
            .groupBy("doc_id")
            .agg(F.round(1000000.0
                         * F.sum(F.when(F.col("df") <= _CURR_RARE_DF, 1)
                                 .otherwise(0)) / F.count(F.lit(1)))
                 .cast("bigint").alias("difficulty_micro")))


@query("corpus_curriculum_order", oracle=f"""
WITH {_DIFF_SQL},
staged AS (
  SELECT doc_id, difficulty_micro,
         ntile({_CURR_STAGES}) OVER (ORDER BY difficulty_micro, doc_id)
           AS stage
  FROM diff),
steps AS (
  SELECT r.k AS step FROM range(1, {_CURR_STAGES} + 1) r(k))
SELECT s.step,
       round(s.step * 1.0 / {_CURR_STAGES}, 6) AS competence,
       CAST(count(*) FILTER (WHERE st.stage = s.step) AS BIGINT)
         AS n_new,
       CAST(count(*) AS BIGINT) AS n_available,
       round(avg(st.difficulty_micro) / 1000000.0, 6)
         AS pool_mean_difficulty
FROM steps s JOIN staged st ON st.stage <= s.step
GROUP BY s.step
""")
def corpus_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPETENCE-BASED CURRICULUM schedule (Bengio et al. 2009
    curriculum learning; Platanios et al. 2019's competence function):
    score every document's difficulty as its RARE-TOKEN FRACTION
    (tokens whose corpus document frequency <= {_CURR_RARE_DF} —
    rarity is the difficulty signal that needs no trained model), split
    the corpus into {_CURR_STAGES} ntile stages easiest-first, and emit
    the schedule: training step k draws from stages 1..k (competence
    c(k) = k/{_CURR_STAGES}), so the report carries each step's newly
    admitted and cumulative pool sizes and the pool's mean difficulty —
    the table a curriculum sampler consumes (the temperature-mix /
    epoch-schedule siblings reweight BY SOURCE; this orders BY
    DIFFICULTY).

    Determinism: difficulty snaps to integer micro-units; ntile over
    (difficulty_micro, doc_id) is a total order, so stage assignment is
    identical in both engines.

    Scale shape: tokenize -> one df aggregate (vocabulary-sized, the
    TF-IDF plan) -> one doc-keyed difficulty aggregate -> a global
    ntile. The ntile's total sort is doc-COUNT-sized (two small
    columns), and production replaces it with range partitioning on
    difficulty (sort_global_range_partitioned's recipe) — rank edges
    then come from a sampled CDF, the standard trade."""
    diff = _difficulty_frame(spark, sf_dir)
    staged = diff.withColumn(
        "stage", F.ntile(_CURR_STAGES).over(
            W.orderBy("difficulty_micro", "doc_id")))
    steps = spark.range(1, _CURR_STAGES + 1).select(
        F.col("id").cast("int").alias("step"))
    return (steps.join(staged, staged.stage <= steps.step)
            .groupBy("step")
            .agg(F.round(F.first("step") * 1.0 / _CURR_STAGES, 6)
                 .alias("competence"),
                 F.sum(F.when(F.col("stage") == F.col("step"), 1)
                       .otherwise(0)).cast("bigint").alias("n_new"),
                 F.count(F.lit(1)).cast("bigint").alias("n_available"),
                 F.round(F.avg("difficulty_micro") / 1000000.0, 6)
                 .alias("pool_mean_difficulty"))
            .select(F.col("step").cast("bigint").alias("step"),
                    "competence", "n_new", "n_available",
                    "pool_mean_difficulty"))


# ---------------------------------------------------------------------------
# The end-to-end TRAINING-DATA RELEASE pipeline — the artifact this
# engine's north star ("LLM-data-pipeline at 100 TB") actually ships.
# Every rung is an already-registered, individually-oracle-checked
# operator; this composes them into ONE audited chain:
#
#   1. gopher      — Gopher hard quality rules (corpus_gopher_quality_rules)
#   2. exact       — byte-exact md5 dedup, grouped-min survivorship
#   3. minhash     — width-CAPPED banded MinHash-LSH verified pairs
#                    (dedup_minhash_lsh_capped, the production scale path)
#   4. semdedup    — CAPPED SemDeDup per-vector verdicts
#                    (dedup_semdedup_capped; vec_id == doc_id alignment)
#   5. decontam    — eval-set holdout + verbatim 4-gram + semantic
#                    embedding decontamination (both audits must clear;
#                    4-grams are the pipeline-grade size — the
#                    registered 3-gram audit over-fires at sf0.1, see
#                    the _DECON_N study in pipeline_corpus_hygiene)
#   6. mix         — sqrt-temperature per-source document quotas under a
#                    release budget, deterministic hash-ranked selection
#   7. curriculum  — rare-token-fraction difficulty order (easy first)
#   8. pack        — concat-then-chunk into _SEQ_LEN-token sequences in
#                    curriculum order (full sequences only)
#
# Pair/verdict rungs reuse the corpus-wide sets restricted to
# both-endpoints-remaining (corpus_dedup_cascade's documented
# convention); the oracle embeds every constituent's registered SQL
# VERBATIM as a CTE so the chain can never drift from its rungs.

_REL_DOC_BUDGET = 100  # released documents (pre-quota-floor) per corpus
# 100 deliberately: the sf0.01 fixture has ~132 post-decontam survivors,
# so the driver row EXERCISES the quota floor + hash-ranked selection
# (the SEM_CAP_M cap-binds-on-the-fixture convention), not a no-op mix.

from .corpus import _SEQ_LEN  # noqa: E402  (single-source pack capacity)
from .dedup import (  # noqa: E402
    dedup_minhash_lsh_capped, dedup_semdedup_capped)
# ml.queries registers the distilled quality classifier the release
# chain's `quality` rung reuses; safe to import here (its decoration-time
# registry lookups — gopher, langid, calibration bins — are all satisfied
# by this point, and nothing in its import chain imports this module).
from ..ml.queries import _QC_B  # noqa: E402

# Term list is frozen at module scope: a production gate ships its
# blocklist as a versioned artifact and broadcasts it, never joins a
# mutable table mid-pipeline.
_BLOCK_TERMS = ("dup", "leak", "crash")
_BLOCK_PHRASES = ("slow scan",)

_BLOCK_TERMS_SQL = ", ".join(f"'{t}'" for t in _BLOCK_TERMS)
# Every phrase in the tuple participates on BOTH engines (advisor r09:
# the Spark side previously checked only _BLOCK_PHRASES[0] while the
# oracle hardcoded the same literal — adding a phrase would have
# silently changed nothing). The oracle predicate is GENERATED from
# the tuple so the two sides cannot drift.
_BLOCK_PHRASES_SQL = " OR ".join(
    f"position(' {p} ' IN ' ' || array_to_string(ws, ' ') || ' ') > 0"
    for p in _BLOCK_PHRASES)

# The learned-quality rung keeps the TOP 9/10 of blocklist survivors by
# distilled score (bottom-percentile pruning, the DCLM/CCNet retention
# shape). A fixed z >= 0 threshold is NOT usable here: the 2-round
# intercept-free GD's origin boundary scored every sf0.1 document
# negative (the rung annihilated the corpus — caught by the sf0.1
# arrival verify), while a rank cut is corpus-adaptive,
# deterministic ((z DESC, doc_id) total order on integer micro-scores),
# and engine-exact via the ceil-division keep count.
_QC_KEEP_NUM, _QC_KEEP_DEN = 9, 10

# The survivor chain s1..s7 as one WITH body (shared by the accounting
# and manifest oracles). Outer CTE names are chosen not to collide with
# _DIFF_SQL's (t0/tok/tk/df/diff).
_RELEASE_CHAIN_SQL = f"""gq AS ({{gopher}}),
s1 AS MATERIALIZED (SELECT doc_id FROM gq WHERE keep = 1),
blk AS (SELECT doc_id FROM (
    SELECT doc_id,
           list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
    FROM documents) bt
  WHERE len(list_intersect(ws, [{_BLOCK_TERMS_SQL}])) > 0
     OR ({_BLOCK_PHRASES_SQL})),
s1b AS MATERIALIZED (SELECT doc_id FROM s1
       WHERE doc_id NOT IN (SELECT doc_id FROM blk)),
qw AS MATERIALIZED ({{quality}}),
qwi AS (SELECT i, CAST(round(w * 1000000) AS BIGINT) AS wi FROM qw),
qtok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
         FROM documents),
qf AS (SELECT doc_id,
              ('0x' || substr(md5(word), 1, 8))::BIGINT % {_QC_B} AS i,
              count(*) AS c
       FROM qtok WHERE word <> '' GROUP BY 1, 2),
qz AS (SELECT f.doc_id, sum(f.c * q.wi) AS z
       FROM qf f JOIN qwi q USING (i) GROUP BY f.doc_id),
qrank AS (
  SELECT s1b.doc_id,
         row_number() OVER (ORDER BY coalesce(qz.z, 0) DESC,
                            s1b.doc_id) AS qrn,
         count(*) OVER () AS qn
  FROM s1b LEFT JOIN qz USING (doc_id)),
s1q AS MATERIALIZED (
  SELECT doc_id FROM qrank
  WHERE qrn <= (qn * {_QC_KEEP_NUM} + {_QC_KEEP_DEN} - 1)
               // {_QC_KEEP_DEN}),
tokr AS MATERIALIZED (SELECT doc_id, source,
                CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                     AS BIGINT) AS ntok,
                md5(text) AS ekey
         FROM documents),
ex AS (SELECT t.doc_id, min(t.doc_id) OVER (PARTITION BY t.ekey) AS keep_id
       FROM tokr t JOIN s1q USING (doc_id)),
s2 AS MATERIALIZED (SELECT doc_id FROM ex WHERE doc_id = keep_id),
mhp AS ({{minhash}}),
d3 AS (SELECT DISTINCT p.doc_b AS doc_id FROM mhp p
       JOIN s2 a ON a.doc_id = p.doc_a
       JOIN s2 b ON b.doc_id = p.doc_b),
s3 AS MATERIALIZED (SELECT doc_id FROM s2 WHERE doc_id NOT IN (SELECT doc_id FROM d3)),
sdv AS ({{semdedup}}),
s4 AS MATERIALIZED (SELECT s3.doc_id FROM s3 LEFT JOIN sdv ON sdv.vec_id = s3.doc_id
       WHERE NOT coalesce(sdv.dropped, false)),
dt AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
{_gram4_sql("dt", "d4i", "d4")},
{_decon_hits_sql("d4", "dbset", "ngc")},
smc AS ({{semantic}}),
s5 AS MATERIALIZED (SELECT s4.doc_id FROM s4
       LEFT JOIN ngc ON ngc.doc_id = s4.doc_id
       LEFT JOIN smc ON smc.vec_id = s4.doc_id
       WHERE s4.doc_id % {_BENCH_MOD} <> 0
         AND coalesce(ngc.nh, 0) = 0
         AND NOT coalesce(smc.contaminated, false)),
st AS MATERIALIZED (SELECT t.doc_id, t.source, t.ntok FROM tokr t JOIN s5 USING (doc_id)),
src AS (SELECT source, count(*) AS n_docs,
               sqrt(CAST(sum(ntok) AS DOUBLE)) AS pw
        FROM st GROUP BY source),
quota AS (SELECT source,
                 least(CAST(floor(pw / sum(pw) OVER ()
                                  * {_REL_DOC_BUDGET}) AS BIGINT),
                       n_docs) AS q
          FROM src),
rk AS (SELECT doc_id, source, ntok,
              row_number() OVER (PARTITION BY source
                                 ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                          doc_id) AS rn
       FROM st),
s6 AS MATERIALIZED (SELECT r.doc_id, r.source, r.ntok FROM rk r
       JOIN quota q USING (source) WHERE r.rn <= q.q),
{_DIFF_SQL},
s7 AS (SELECT s6.doc_id, s6.source, s6.ntok, d.difficulty_micro,
              row_number() OVER (ORDER BY d.difficulty_micro, s6.doc_id)
                AS crank
       FROM s6 JOIN diff d ON d.doc_id = s6.doc_id)"""


def _release_oracle_chain() -> str:
    """Assemble the chain WITH body, embedding each constituent rung's
    REGISTERED oracle verbatim (so the pipeline's semantics are pinned
    to the rungs the driver already hash-verifies individually)."""
    from ..registry import ORACLE_SQL as osql
    return _RELEASE_CHAIN_SQL.format(
        gopher=osql["corpus_gopher_quality_rules"],
        quality=osql["ml_quality_classifier_distill"],
        minhash=osql["dedup_minhash_lsh_capped"],
        semdedup=osql["dedup_semdedup_capped"],
        semantic=osql["corpus_decontamination_semantic"])


def _release_chain(spark: SparkSession, sf_dir: str,
                   budget: int = _REL_DOC_BUDGET) -> dict:
    """Build the survivor chain s1..s7 as DataFrames (the Spark twin of
    _RELEASE_CHAIN_SQL), reusing the registered rung callables. Every
    survivor frame is id-sized (doc_id lists), so the persists are
    model-state-sized, never corpus-sized."""
    docs = load_parallel(spark, sf_dir, "documents")
    ntok = F.size(F.filter(F.split("text", " "), lambda x: x != ""))
    tokr = docs.select("doc_id", "source",
                       ntok.cast("bigint").alias("ntok"),
                       F.md5("text").alias("ekey"))

    # The rung INGREDIENTS are independent of the survivor chain (the
    # chain only anti-joins their id-sized outputs): build the eager
    # ones — the distilled-classifier trainer, the capped MinHash and
    # SemDeDup stores, the semantic-decontam index, the difficulty
    # frame — in overlapped driver threads so their internal
    # argmax/count jobs back-fill each other's stragglers (guide §2.6).
    # Each builder is deterministic and owns disjoint memo keys.
    from concurrent.futures import ThreadPoolExecutor

    from ..ml.queries import ml_quality_classifier_distill

    with ThreadPoolExecutor(max_workers=5) as pool:
        f_gopher = pool.submit(corpus_gopher_quality_rules, spark, sf_dir)
        f_qw = pool.submit(ml_quality_classifier_distill, spark, sf_dir)
        f_mh = pool.submit(dedup_minhash_lsh_capped, spark, sf_dir)
        f_sd = pool.submit(dedup_semdedup_capped, spark, sf_dir)
        f_sm = pool.submit(corpus_decontamination_semantic, spark, sf_dir)
        f_df = pool.submit(_difficulty_frame, spark, sf_dir)
        gopher_f = f_gopher.result()
        qw_f = f_qw.result()
        mh_f = f_mh.result()
        sd_f = f_sd.result()
        sm_f = f_sm.result()
        diff = f_df.result()

    s1 = (gopher_f
          .filter(F.col("keep") == 1).select("doc_id").persist())
    # blocklist rung: the corpus_blocklist_filter term/phrase rules as a
    # per-document verdict (that operator reports per-(source, lang)
    # aggregates; the rung needs the doc-level gate) — same constants,
    # same word-boundary conventions, one narrow pass.
    ws = F.filter(F.split(F.lower("text"), " "), lambda x: x != "")
    padded = F.concat(F.lit(" "), F.array_join(ws, " "), F.lit(" "))
    blocked = (F.arrays_overlap(
                   ws, F.array(*[F.lit(w) for w in _BLOCK_TERMS]))
               | functools.reduce(
                   lambda a, b: a | b,
                   [padded.contains(f" {p} ") for p in _BLOCK_PHRASES]))
    blk = docs.filter(blocked).select("doc_id")
    s1b = s1.join(blk, "doc_id", "left_anti").persist()
    # learned-quality rung: score every doc with the REGISTERED distilled
    # classifier's weights, then keep the top {_QC_KEEP_NUM}/{_QC_KEEP_DEN}
    # of blocklist survivors by score (bottom-percentile pruning — see
    # the _QC_KEEP constant note). Integer-exact scoring: the published
    # weights are 6-decimal-rounded, so wi = round(w * 1e6) is an exact
    # int64 and z = Σ c·wi is an order-free integer sum; the rank cut is
    # a (z DESC, doc_id) total order, bit-identical cross-engine. Docs
    # with no features score z = 0.
    qwi = (qw_f
           .select("i", F.round(F.col("w") * 1000000)
                   .cast("bigint").alias("wi")))
    qf = (docs.select(
              "doc_id",
              F.explode(F.split(F.lower("text"), " ")).alias("word"))
          .filter(F.col("word") != "")
          .select("doc_id",
                  (F.conv(F.substring(F.md5("word"), 1, 8), 16, 10)
                   .cast("bigint") % _QC_B).alias("i"))
          .groupBy("doc_id", "i").agg(F.count(F.lit(1)).alias("c")))
    qz = (qf.join(F.broadcast(qwi), "i")
          .groupBy("doc_id")
          .agg(F.sum(F.col("c") * F.col("wi")).alias("z")))
    zc = F.coalesce(F.col("z"), F.lit(0))
    qrank = (s1b.join(qz, "doc_id", "left")
             .select("doc_id",
                     F.row_number().over(
                         W.orderBy(zc.desc(), "doc_id")).alias("qrn"),
                     F.count(F.lit(1)).over(
                         W.partitionBy()).alias("qn")))
    s1q = (qrank.filter(
               F.col("qrn") <= F.expr(
                   f"(qn * {_QC_KEEP_NUM} + {_QC_KEEP_DEN} - 1) "
                   f"DIV {_QC_KEEP_DEN}"))
           .select("doc_id").persist())
    s2 = (tokr.join(s1q, "doc_id")
          .groupBy("ekey").agg(F.min("doc_id").alias("doc_id"))
          .select("doc_id").persist())
    pairs = mh_f.select("doc_a", "doc_b")
    d3 = (pairs.join(s2.withColumnRenamed("doc_id", "doc_a"), "doc_a")
          .join(s2.withColumnRenamed("doc_id", "doc_b"), "doc_b")
          .select(F.col("doc_b").alias("doc_id")).distinct())
    s3 = s2.join(d3, "doc_id", "left_anti").persist()
    semdrop = (sd_f
               .filter(F.col("dropped"))
               .select(F.col("vec_id").alias("doc_id")))
    s4 = s3.join(semdrop, "doc_id", "left_anti").persist()
    # verbatim-leak rung at the PIPELINE-grade gram size (_DECON_N = 4):
    # the registered 3-gram corpus_decontamination over-fires at larger
    # corpora (94% of sf0.1 docs share a benchmark trigram vs 15% for
    # 4-grams — the pipeline_corpus_hygiene threshold study), which
    # measured as a 2,462 -> 7 survivor collapse at sf0.1. Same plan
    # shape: eval-sized gram set broadcasts, one corpus-side explode +
    # broadcast join + per-doc count.
    g4 = (docs.select("doc_id", F.split("text", " ").alias("ws"))
          .select("doc_id",
                  F.explode(F.expr(_grams_expr(_DECON_N))).alias("gram")))
    ngc = _decon_hits(g4).filter(F.col("nh") > 0).select("doc_id")
    smc = (sm_f
           .filter(F.col("contaminated"))
           .select(F.col("vec_id").alias("doc_id")))
    s5 = (s4.filter(F.col("doc_id") % _BENCH_MOD != 0)
          .join(ngc, "doc_id", "left_anti")
          .join(smc, "doc_id", "left_anti").persist())

    st = tokr.join(s5, "doc_id").select("doc_id", "source", "ntok")
    src = st.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sqrt(F.sum("ntok").cast("double")).alias("pw"))
    # operand order mirrors the oracle exactly: (pw / Σpw) * budget,
    # then floor — sqrt and / are correctly-rounded IEEE, so the quota
    # is bit-identical cross-engine (corpus_temperature_mix's argument)
    quota = src.select(
        "source",
        F.least(F.floor(F.col("pw") / F.sum("pw").over(W.partitionBy())
                        * budget).cast("bigint"),
                F.col("n_docs")).alias("q"))
    rn = F.row_number().over(
        W.partitionBy("source")
        .orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id"))
    s6 = (st.withColumn("rn", rn)
          .join(F.broadcast(quota), "source")
          .filter(F.col("rn") <= F.col("q"))
          .select("doc_id", "source", "ntok").persist())
    crank = F.row_number().over(
        W.orderBy("difficulty_micro", "doc_id"))
    s7 = (s6.join(diff, "doc_id")
          .withColumn("crank", crank.cast("bigint")).persist())
    return {"n_total": docs, "tokr": tokr, "s1": s1, "s1b": s1b,
            "s1q": s1q, "s2": s2, "s3": s3,
            "s4": s4, "s5": s5, "s6": s6, "s7": s7}


_RELEASE_ACCOUNTING_TAIL = f"""
n AS MATERIALIZED (SELECT
  (SELECT count(*) FROM documents) AS n0,
  (SELECT count(*) FROM s1) AS n1,
  (SELECT count(*) FROM s1b) AS nb,
  (SELECT count(*) FROM s1q) AS nq,
  (SELECT count(*) FROM s2) AS n2,
  (SELECT count(*) FROM s3) AS n3,
  (SELECT count(*) FROM s4) AS n4,
  (SELECT count(*) FROM s5) AS n5,
  (SELECT count(*) FROM s6) AS n6,
  (SELECT CAST(coalesce(sum(t.ntok), 0) AS BIGINT)
   FROM tokr t JOIN s1 USING (doc_id)) AS t1,
  (SELECT CAST(coalesce(sum(t.ntok), 0) AS BIGINT)
   FROM tokr t JOIN s1b USING (doc_id)) AS tb,
  (SELECT CAST(coalesce(sum(t.ntok), 0) AS BIGINT)
   FROM tokr t JOIN s1q USING (doc_id)) AS tq,
  (SELECT CAST(coalesce(sum(t.ntok), 0) AS BIGINT)
   FROM tokr t JOIN s2 USING (doc_id)) AS t2,
  (SELECT CAST(coalesce(sum(t.ntok), 0) AS BIGINT)
   FROM tokr t JOIN s3 USING (doc_id)) AS t3,
  (SELECT CAST(coalesce(sum(t.ntok), 0) AS BIGINT)
   FROM tokr t JOIN s4 USING (doc_id)) AS t4,
  (SELECT CAST(coalesce(sum(t.ntok), 0) AS BIGINT)
   FROM tokr t JOIN s5 USING (doc_id)) AS t5,
  (SELECT CAST(coalesce(sum(ntok), 0) AS BIGINT) FROM s6) AS t6,
  (SELECT CAST(floor(coalesce(sum(ntok), 0) / {_SEQ_LEN}.0) AS BIGINT)
   FROM s6) AS nseq)
SELECT * FROM (
  SELECT 1 AS rung, 'gopher' AS stage,
         CAST(n0 AS BIGINT) AS n_in,
         CAST(n0 - n1 AS BIGINT) AS n_removed,
         CAST(n1 AS BIGINT) AS n_out,
         t1 AS tokens_out FROM n
  UNION ALL SELECT 2, 'blocklist', n1, n1 - nb, nb, tb FROM n
  UNION ALL SELECT 3, 'quality', nb, nb - nq, nq, tq FROM n
  UNION ALL SELECT 4, 'exact', nq, nq - n2, n2, t2 FROM n
  UNION ALL SELECT 5, 'minhash', n2, n2 - n3, n3, t3 FROM n
  UNION ALL SELECT 6, 'semdedup', n3, n3 - n4, n4, t4 FROM n
  UNION ALL SELECT 7, 'decontam', n4, n4 - n5, n5, t5 FROM n
  UNION ALL SELECT 8, 'mix', n5, n5 - n6, n6, t6 FROM n
  UNION ALL SELECT 9, 'curriculum', n6, 0, n6, t6 FROM n
  UNION ALL SELECT 10, 'pack', n6, 0, nseq, nseq * {_SEQ_LEN} FROM n)
"""


@query("pipeline_corpus_release", eager=True,
       oracle="WITH " + _release_oracle_chain()
              + "," + _RELEASE_ACCOUNTING_TAIL)
def pipeline_corpus_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED training-data release pipeline's per-stage
    accounting table (the corpus_dedup_cascade reporting shape):
    quality gate -> blocklist -> learned quality filter -> exact dedup
    -> capped near-dedup (lexical + semantic) -> decontamination ->
    temperature mix -> curriculum -> sequence packing, each row
    carrying n_in / n_removed / n_out plus the surviving token mass.
    The blocklist rung applies corpus_blocklist_filter's term/phrase
    rules as a per-document gate (C4's cleaning order, Raffel et al.
    2020); the quality rung scores every document with the REGISTERED
    distilled classifier (ml_quality_classifier_distill) — weights
    snapped to exact integer micro-units so each score z = Σ c·w_micro
    is an order-free int64 sum on both engines — and keeps the TOP
    {_QC_KEEP_NUM}/{_QC_KEEP_DEN} of survivors by (z DESC, doc_id)
    rank (qrn <= ceil({_QC_KEEP_NUM}/{_QC_KEEP_DEN}·n), the
    corpus-adaptive bottom-decile prune; a fixed z >= 0 gate was
    rejected on arrival after it annihilated the sf0.1 corpus — see
    the _QC_KEEP constant note) — the DCLM/CCNet model-filter stage
    (r09 verdict ask #6). The pack row changes the n_out UNIT to
    full {_SEQ_LEN}-token sequences (tokens_out = nseq * {_SEQ_LEN};
    the straddle remainder is the trainer's partial final window,
    excluded from the release count).

    This is the stage-level audit a corpus release publishes alongside
    its dataset card: which rung removed what, and how many tokens the
    release actually ships. Every rung is an individually registered,
    driver-hash-verified operator reused verbatim (callables on the
    Spark side, oracle SQL embedded as CTEs on the DuckDB side), so
    the composition cannot drift from its parts.

    Scale shape: the rungs are priced individually in SCALE.md (capped
    LSH and capped SemDeDup are the measured production paths; the
    quality gate and decontamination are one corpus pass each). The
    semantic rung's MULTI-PROBE upgrade
    (dedup_semdedup_multiprobe_capped, round 11 — measured pair recall
    0.417 -> 0.926 uncapped at sf0.1, eval-graded at every cap level)
    is verdict-schema drop-in compatible; this pipeline keeps the
    single-probe rung for cross-round accounting comparability and a
    release revision swaps the rung in one line. The
    composition itself adds only doc_id-keyed anti-joins between rungs
    and window math over sources-sized / release-sized summaries. The
    accounting output is 8 driver-side rows of already-aggregated
    counts (the cascade's createDataFrame convention)."""
    c = _release_chain(spark, sf_dir)
    n0 = c["n_total"].count()
    # all five survivor-set counts AND token sums in ONE corpus pass:
    # union the (persisted, id-sized) survivor lists tagged by rung and
    # join tokr once — five separate per-stage jobs would rescan the
    # documents projection (with its md5 + tokenize) once each.
    tagged = None
    for i, k in enumerate(("s1", "s1b", "s1q", "s2", "s3", "s4", "s5"), 1):
        t_ = c[k].select(F.lit(i).alias("rung"), "doc_id")
        tagged = t_ if tagged is None else tagged.unionByName(t_)
    per = {int(r["rung"]): (int(r["n"]), int(r["tok"])) for r in
           (c["tokr"].join(tagged, "doc_id")
            .groupBy("rung")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.coalesce(F.sum("ntok"), F.lit(0)).alias("tok"))
            .collect())}
    ((n1, t1), (nb, tb), (nq, tq), (n2, t2), (n3, t3), (n4, t4),
     (n5, t5)) = (per.get(i, (0, 0)) for i in range(1, 8))
    r6 = (c["s6"].agg(F.count(F.lit(1)).alias("n"),
                      F.coalesce(F.sum("ntok"), F.lit(0)).alias("tok"))
          .collect()[0])
    n6, t6 = int(r6["n"]), int(r6["tok"])
    nseq = t6 // _SEQ_LEN
    rows = [(1, "gopher", n0, n0 - n1, n1, t1),
            (2, "blocklist", n1, n1 - nb, nb, tb),
            (3, "quality", nb, nb - nq, nq, tq),
            (4, "exact", nq, nq - n2, n2, t2),
            (5, "minhash", n2, n2 - n3, n3, t3),
            (6, "semdedup", n3, n3 - n4, n4, t4),
            (7, "decontam", n4, n4 - n5, n5, t5),
            (8, "mix", n5, n5 - n6, n6, t6),
            (9, "curriculum", n6, 0, n6, t6),
            (10, "pack", n6, 0, nseq, nseq * _SEQ_LEN)]
    return spark.createDataFrame(
        rows, "rung bigint, stage string, n_in bigint, n_removed bigint, "
              "n_out bigint, tokens_out bigint")


@query("pipeline_release_manifest",
       oracle="WITH " + _release_oracle_chain() + f"""
SELECT s7.doc_id, s7.source, s7.ntok AS n_tokens, s7.difficulty_micro,
       CAST(s7.crank AS BIGINT) AS crank,
       CAST(floor(coalesce(sum(s7.ntok) OVER (
                ORDER BY s7.crank
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            / {_SEQ_LEN}.0) AS BIGINT) AS seq_id
FROM s7
""")
def pipeline_release_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-document RELEASE MANIFEST of pipeline_corpus_release —
    the dataset-card companion at document granularity: every released
    document with its token count, curriculum difficulty, curriculum
    rank (the global training order), and the packed sequence its
    first token lands in (concat-then-chunk attribution, the
    corpus_sequence_pack rule applied in curriculum order instead of
    doc_id order). This row set is what makes the chain's ORDERING
    stages verifiable: mix selection, curriculum rank, and pack
    assignment are all deterministic functions both engines must
    reproduce exactly, doc by doc.

    Scale shape: the chain as in pipeline_corpus_release; the manifest
    adds one global running sum over the RELEASE (budget-sized, <=
    {_REL_DOC_BUDGET} rows — model state, not corpus), so the
    unpartitioned windows here are bounded by the release budget, never
    by corpus size."""
    s7 = _release_chain(spark, sf_dir)["s7"]
    cum = (W.orderBy("crank")
           .rowsBetween(W.unboundedPreceding, -1))
    return (s7.select(
        "doc_id", "source", F.col("ntok").alias("n_tokens"),
        "difficulty_micro", "crank",
        F.floor(F.coalesce(F.sum("ntok").over(cum), F.lit(0))
                / float(_SEQ_LEN)).cast("bigint").alias("seq_id")))


# Banded-LSH semantic decontamination — the SCALE path of
# corpus_decontamination_semantic, promoted to a first-class query after
# the round-9 sf10 chain rehearsal measured the brute-force eval sweep
# at 206s for 2,061 eval x ~198k train (~408M cosines) — 80% of the
# whole release chain's wall (SCALE.md round 9).
from .similarity import EMB_BAND_BUCKETS_SQL as _EMB_BB_SQL  # noqa: E402


@query("corpus_decontamination_semantic_lsh", oracle=f"""
WITH {_EMB_BB_SQL.strip()},
cand AS (
  SELECT DISTINCT t.vec_id, e.vec_id AS eval_id
  FROM bb t JOIN bb e ON t.band = e.band AND t.bkt = e.bkt
  WHERE t.vec_id % {_SEMDECON_MOD} <> 0
    AND e.vec_id % {_SEMDECON_MOD} = 0),
ev AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
scored AS (
  SELECT c.vec_id, c.eval_id,
         round(list_cosine_similarity(t.emb, e.emb), 6) AS cos
  FROM cand c JOIN ev t ON t.vec_id = c.vec_id
              JOIN ev e ON e.vec_id = c.eval_id),
best AS (
  SELECT vec_id, eval_id, cos FROM (
    SELECT vec_id, eval_id, cos,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cos DESC, eval_id) AS rn
    FROM scored) WHERE rn = 1)
SELECT vec_id, eval_id AS nearest_eval_id, cos AS max_cos,
       cos >= {_SEMDECON_TAU} AS contaminated
FROM best
""")
def corpus_decontamination_semantic_lsh(spark: SparkSession,
                                        sf_dir: str) -> DataFrame:
    """SEMANTIC decontamination, BANDED-LSH scale path: replace the
    brute-force |train| x |eval| cosine sweep of
    corpus_decontamination_semantic with the engine's L=4 x r=4 banded
    sign-LSH (dedup_embedding_lsh's machinery): candidates are
    (band, bucket) equi-join collisions between the train and eval
    sides, exact rounded-cosine rerank runs on candidates only, and a
    train vector is flagged iff its best CANDIDATE eval clears cos >=
    {_SEMDECON_TAU}. Output rows exist only for train vectors with at
    least one candidate — the recall trade (1-(1-p^r)^L ~ 50% at the
    threshold, the dedup_lsh_band_tuning S-curve) bought with candidate
    volume Σ|bucket|² instead of |train| x |eval|.

    When to switch: the round-9 sf10 chain rehearsal measured the
    brute-force sweep at 206s for ~408M candidate cosines at 200k
    vectors — already the release chain's dominant rung — while this
    path's candidate set is bucket-bounded and its recall knobs (grow
    r with log n, raise L to hold the recall point) are the standard
    production tune. Flags are SOUND by construction (every flagged
    vector is exact-verified at the same threshold, so LSH-contaminated
    is a SUBSET of the exact pass's verdicts — pinned by
    test_semantic_lsh_sound_and_recalls); the miss direction is
    recall-only, matching how production pipelines stack decontam
    passes (verbatim n-gram catches what the embedding tier misses).

    Scale shape: bucket build is narrow per-row folds over broadcast
    plane literals (no shuffle); the candidate join shuffles L rows per
    vector on (band, bkt); rerank joins fetch embeddings for the
    candidate set only."""
    from .similarity import _band_bucket_df
    from ..functions.vector import dot_col, l2norm_col

    bb = _band_bucket_df(spark, sf_dir).select("vec_id", "band", "bkt")
    tr = (bb.filter(F.col("vec_id") % _SEMDECON_MOD != 0))
    ev = (bb.filter(F.col("vec_id") % _SEMDECON_MOD == 0)
          .select(F.col("vec_id").alias("eval_id"), "band", "bkt"))
    cand = (tr.join(ev, ["band", "bkt"])
            .select("vec_id", "eval_id").distinct())
    emb = (load_parallel(spark, sf_dir, "embeddings")
           .select("vec_id", "embedding",
                   l2norm_col(F.col("embedding")).alias("nrm")))
    te = emb.select("vec_id", F.col("embedding").alias("temb"),
                    F.col("nrm").alias("tn"))
    ee = emb.select(F.col("vec_id").alias("eval_id"),
                    F.col("embedding").alias("eemb"),
                    F.col("nrm").alias("en"))
    scored = (cand.join(te, "vec_id").join(ee, "eval_id")
              .select("vec_id", "eval_id",
                      F.round(dot_col(F.col("temb"), F.col("eemb"))
                              / (F.col("tn") * F.col("en")), 6)
                      .alias("cos")))
    w = W.partitionBy("vec_id").orderBy(F.desc("cos"), F.asc("eval_id"))
    return (scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vec_id", F.col("eval_id").alias("nearest_eval_id"),
                    F.col("cos").alias("max_cos"),
                    (F.col("cos") >= float(_SEMDECON_TAU))
                    .alias("contaminated")))


# ---------------------------------------------------------------------------
# Word/phrase blocklist filtering (the C4 "bad words" gate).

# (blocklist term/phrase constants live above _RELEASE_CHAIN_SQL — the
# release chain's blocklist rung interpolates them at module load.)


@query("corpus_blocklist_filter", oracle=f"""
WITH t AS (
  SELECT source, lang,
         list_filter(string_split(lower(text), ' '), x -> x != '') AS ws
  FROM documents),
f AS (
  SELECT source, lang, CAST(len(ws) AS BIGINT) AS ntok,
         len(list_intersect(ws, [{_BLOCK_TERMS_SQL}])) > 0 AS hit_term,
         ({_BLOCK_PHRASES_SQL}) AS hit_phrase
  FROM t)
SELECT source, lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN hit_term THEN 1 ELSE 0 END) AS BIGINT)
         AS n_term_hits,
       CAST(sum(CASE WHEN hit_phrase THEN 1 ELSE 0 END) AS BIGINT)
         AS n_phrase_hits,
       CAST(sum(CASE WHEN hit_term OR hit_phrase THEN 1 ELSE 0 END)
            AS BIGINT) AS n_blocked,
       CAST(sum(CASE WHEN hit_term OR hit_phrase THEN 0 ELSE ntok END)
            AS BIGINT) AS kept_tokens
FROM f GROUP BY source, lang
""")
def corpus_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLOCKLIST document filtering (the C4 cleaning step, Raffel et
    al. 2020 — drop any document containing a term from a curated list;
    Penedo et al. 2023 RefinedWeb keeps the same gate): word-boundary
    TERM hits via token-set intersection against the broadcast list,
    word-boundary PHRASE hits via space-padded substring containment on
    the normalized token string (' slow scan ' cannot match inside
    'slower scanner'). The report is the per-(source, lang) accounting
    a release pipeline logs: documents scanned, hits by rule class,
    docs blocked (either rule), surviving token volume.

    Spark-first shape: the term list compiles into the scan itself
    (`arrays_overlap` against a LITERAL array — no join, no shuffle,
    whole-stage codegen keeps it JVM-side), so the gate is one NARROW
    pass over the corpus followed by a combiner'd groupBy on
    (source, lang) — model-sized output. At 100 TB a realistic
    blocklist (~10k terms) still broadcasts in KBs; phrase rules
    compile to `contains` on the normalized text. Nothing here scales
    with anything but corpus bytes."""
    docs = load_parallel(spark, sf_dir, "documents")
    ws = F.filter(F.split(F.lower("text"), " "), lambda x: x != "")
    t = docs.select("source", "lang", ws.alias("ws"))
    hit_term = F.arrays_overlap(
        "ws", F.array(*[F.lit(w) for w in _BLOCK_TERMS]))
    padded = F.concat(F.lit(" "), F.array_join("ws", " "), F.lit(" "))
    hit_phrase = functools.reduce(
        lambda a, b: a | b,
        [padded.contains(f" {p} ") for p in _BLOCK_PHRASES])
    f = t.select("source", "lang",
                 F.size("ws").cast("bigint").alias("ntok"),
                 hit_term.alias("hit_term"), hit_phrase.alias("hit_phrase"))
    blocked = F.col("hit_term") | F.col("hit_phrase")
    return (f.groupBy("source", "lang")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.sum(F.when(F.col("hit_term"), 1).otherwise(0))
                 .cast("bigint").alias("n_term_hits"),
                 F.sum(F.when(F.col("hit_phrase"), 1).otherwise(0))
                 .cast("bigint").alias("n_phrase_hits"),
                 F.sum(F.when(blocked, 1).otherwise(0))
                 .cast("bigint").alias("n_blocked"),
                 F.sum(F.when(blocked, 0).otherwise(F.col("ntok")))
                 .cast("bigint").alias("kept_tokens")))


# ---------------------------------------------------------------------------
# Iterative proportional fitting (Sinkhorn raking) of the corpus mix.

_IPF_RES = 1_000_000          # weights carried in integer micro-units


def _ipf_row_sql(prev: str, out: str, key: str, tgt: str) -> str:
    """One raking step as SQL text: rescale every cell's micro-weight so
    the `key` marginal hits total/n_`key` — division-first so no product
    exceeds int64 (see docstring bounds)."""
    return f"""
{out}_m AS (SELECT {key}, sum(c * m) AS mass FROM {prev} GROUP BY {key}),
{out} AS (
  SELECT p.source, p.lang, p.c,
         (p.m * ((t.n * 1000000000000) // ({tgt} * s.mass)))
           // {_IPF_RES} AS m
  FROM {prev} p JOIN {out}_m s USING ({key}), tot t)"""


@query("corpus_sinkhorn_rebalance", oracle=f"""
WITH cell AS (
  SELECT source, lang, CAST(count(*) AS BIGINT) AS c
  FROM documents GROUP BY 1, 2),
tot AS (
  SELECT CAST(sum(c) AS BIGINT) AS n,
         CAST(count(DISTINCT source) AS BIGINT) AS r,
         CAST(count(DISTINCT lang) AS BIGINT) AS cl
  FROM cell),
w0 AS (SELECT source, lang, c, CAST({_IPF_RES} AS BIGINT) AS m FROM cell),
{_ipf_row_sql('w0', 'w1', 'source', 't.r')},
{_ipf_row_sql('w1', 'w2', 'lang', 't.cl')},
{_ipf_row_sql('w2', 'w3', 'source', 't.r')},
{_ipf_row_sql('w3', 'w4', 'lang', 't.cl')}
SELECT source, lang, c AS n_docs, CAST(m AS BIGINT) AS w_micro,
       CAST(c * m AS BIGINT) AS eff_micro
FROM w4
""")
def corpus_sinkhorn_rebalance(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """SINKHORN / ITERATIVE-PROPORTIONAL-FITTING corpus rebalancing
    (Deming & Stephan 1940 raking; Sinkhorn 1964 matrix scaling — the
    survey-statistics workhorse, and the balanced-assignment kernel
    inside optimal-transport data valuation): compute per-document
    sampling weights that simultaneously equalize BOTH marginals of
    the (source x lang) contingency table — each source an equal share
    AND each language an equal share — which no single-axis reweighting
    (corpus_temperature_mix scales sources only, corpus_balanced_sample
    langs only) can do, because the axes interact. Two full row/col
    sweeps; Sinkhorn converges geometrically, so the two-sweep weights
    are already within ~1% on this table (the iterated form repeats the
    same two CTE shapes).

    Integer discipline: weights live in micro-units; each rescale is
    division-FIRST — t_micro = (N * 1e12) // (n_axis * axis_mass), then
    m' = m * t_micro // 1e6 — so with N docs and masses <= N * m_max
    no intermediate exceeds int64 while N * 1e12 fits (N <= ~9e6, i.e.
    multi-sf10 class; beyond that drop the resolution a decade). Both
    engines floor identical integers at every step, so the fixed-point
    is bit-identical — no float ever appears.

    Scale shape: ONE corpus-sized grouped count; every subsequent step
    runs on the cell table (sources x langs — model-sized, ~100 rows at
    any corpus size). The per-axis masses are groupBys of that tiny
    table; at 100 TB this is driver-trivial arithmetic after a single
    combiner'd scan, and the output joins back to documents as a
    broadcast to drive the actual sampler."""
    docs = load_parallel(spark, sf_dir, "documents")
    cell = (docs.groupBy("source", "lang")
            .agg(F.count(F.lit(1)).cast("bigint").alias("c")))
    tot = cell.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.countDistinct("source").cast("bigint").alias("r"),
        F.countDistinct("lang").cast("bigint").alias("cl"))
    w = cell.withColumn("m", F.lit(_IPF_RES).cast("bigint"))
    for key, tgt in (("source", "r"), ("lang", "cl"),
                     ("source", "r"), ("lang", "cl")):
        mass = w.groupBy(key).agg(F.sum(F.col("c") * F.col("m"))
                                  .alias("mass"))
        w = (w.join(F.broadcast(mass), key)
             .crossJoin(F.broadcast(tot.select("n", tgt)))
             .withColumn(
                 "m",
                 F.expr(f"(m * ((n * 1000000000000) DIV ({tgt} * mass)))"
                        f" DIV {_IPF_RES}"))
             .select("source", "lang", "c", "m"))
    return w.select("source", "lang", F.col("c").alias("n_docs"),
                    F.col("m").cast("bigint").alias("w_micro"),
                    (F.col("c") * F.col("m")).cast("bigint")
                    .alias("eff_micro"))


# ---------------------------------------------------------------------------
# License propagation through duplicate clusters (data governance).

# Synthetic license assignment (the corpus carries no real license
# metadata): deterministic hash of doc_id onto 4 classes ordered by
# restrictiveness. rank 0 is the most permissive, 3 the most
# restrictive; propagation takes the cluster MAX.
_LIC_NAMES = ("public-domain", "cc-by", "cc-by-sa", "proprietary")
_LIC_CASE_SQL = ("CASE lr " + " ".join(
    f"WHEN {i} THEN '{n}'" for i, n in enumerate(_LIC_NAMES)) + " END")


def _license_oracle() -> str:
    from ..registry import ORACLE_SQL
    return f"""
WITH cc AS MATERIALIZED ({ORACLE_SQL["dedup_connected_components"]}),
lic AS (
  SELECT doc_id, canonical_id,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|lic'), 1, 8))
           ::BIGINT % 4 AS lr
  FROM cc),
m AS (
  SELECT doc_id, canonical_id, lr,
         max(lr) OVER (PARTITION BY canonical_id) AS eff
  FROM lic)
SELECT canonical_id AS cluster,
       CAST(count(*) AS BIGINT) AS n_members,
       CAST(min(eff) AS BIGINT) AS eff_rank,
       min({_LIC_CASE_SQL.replace("lr", "eff")}) AS eff_license,
       CAST(sum(CASE WHEN lr < eff THEN 1 ELSE 0 END) AS BIGINT)
         AS n_upgraded
FROM m GROUP BY canonical_id
"""


@query("corpus_license_propagation", eager=True,
       oracle=_license_oracle())
def corpus_license_propagation(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """LICENSE PROPAGATION through duplicate clusters — the governance
    rule dataset releases apply (The Stack, Kocetkov et al. 2022,
    propagates license detections across exact/near duplicates; C4's
    takedown handling works the same way): if ANY member of a
    near-duplicate cluster carries a more restrictive license, the
    kept canonical inherits it, because keeping "the permissive copy"
    of restricted content is laundering. Each cluster reports its
    effective (max-restrictiveness) license and how many members got
    UPGRADED — the audit trail a release pipeline must ship.

    Composition: duplicate clusters come from the registered
    dedup_cc_two_phase_star builder (Spark side) — the O(log n)
    large-star/small-star derivation, re-based here per the r09 verdict
    after the sf10 giant-component rehearsal measured the O(diameter)
    min-label loop at 116 s (the DUP_EVERY exact-dup chain builds one
    path-shaped cluster, the worst case for label propagation; star CC
    re-measures at ~27 s flat on the same fixture) — against the
    recursive-CTE closure oracle (DuckDB side). The two CC derivations
    are agreement-tested label-identical
    (test_two_phase_star_equals_min_label), so the swap cannot change
    semantics. Licenses are a deterministic det_hash64 assignment onto
    4 ranked classes (the corpus ships no real license metadata;
    swapping in a detector column changes one select).

    Scale shape: one window max + one grouped count over the
    duplicate-set-sized cluster table (only docs in some verified pair
    — dup-volume-sized, not corpus-sized). At 100 TB both key on
    cluster id; the license column rides the existing cluster shuffle
    for free."""
    from ..functions.vector import det_hash64
    from .dedup import dedup_cc_two_phase_star

    cc = dedup_cc_two_phase_star(spark, sf_dir)
    lic = cc.select(
        "doc_id", "canonical_id",
        (det_hash64(F.concat(F.col("doc_id").cast("string"),
                             F.lit("|lic"))) % 4).alias("lr"))
    m = lic.withColumn(
        "eff", F.max("lr").over(W.partitionBy("canonical_id")))
    eff_name = F.element_at(
        F.array(*[F.lit(n) for n in _LIC_NAMES]),
        (F.col("eff") + 1).cast("int"))
    return (m.groupBy(F.col("canonical_id").alias("cluster"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_members"),
                 F.min("eff").cast("bigint").alias("eff_rank"),
                 F.min(eff_name).alias("eff_license"),
                 F.sum(F.when(F.col("lr") < F.col("eff"), 1).otherwise(0))
                 .cast("bigint").alias("n_upgraded")))
