"""Registered classification queries (SURVEY.md §2.5 "classification").

`ml_centroid_classifier` is the oracle-checkable pipeline: nearest-centroid
classification is pure relational algebra + array arithmetic, so DuckDB can
replay it exactly. The MLlib estimators (logistic regression, DBN->LR,
MLP backprop) are iterative trainers — not SQL-expressible — so they
register rows-only, per the driver contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..registry import query
from ..tables import load
from .pipeline import (
    deterministic_split,
    fit_logreg,
    fit_mlp,
    per_label_accuracy,
    with_features,
)


@query("ml_centroid_classifier", oracle="""
WITH train AS (SELECT * FROM embeddings WHERE vec_id % 5 <> 0),
test  AS (SELECT * FROM embeddings WHERE vec_id % 5 = 0),
tr AS (SELECT label, generate_subscripts(embedding, 1) AS i,
              unnest(embedding)::DOUBLE AS x FROM train),
cent AS (SELECT label AS clabel, i, avg(x) AS c FROM tr GROUP BY label, i),
te AS (SELECT vec_id, label, generate_subscripts(embedding, 1) AS i,
              unnest(embedding)::DOUBLE AS x FROM test),
d AS (SELECT te.vec_id, te.label, cent.clabel,
             round(sum((te.x - cent.c) * (te.x - cent.c)), 9) AS d2
      FROM te JOIN cent ON te.i = cent.i
      GROUP BY te.vec_id, te.label, cent.clabel),
p AS (SELECT vec_id, label, clabel AS pred,
             row_number() OVER (PARTITION BY vec_id ORDER BY d2, clabel) AS rn
      FROM d)
SELECT label, count(*) AS n_test,
       sum(CASE WHEN pred = label THEN 1 ELSE 0 END)::BIGINT AS n_correct,
       round(sum(CASE WHEN pred = label THEN 1 ELSE 0 END) / count(*), 4)
         AS accuracy
FROM p WHERE rn = 1 GROUP BY label
""")
def ml_centroid_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid digit classifier, fully relational.

    Train: per-label mean embedding via posexplode + groupBy (distributed;
    shuffle carries labels x dims = 640 rows regardless of input size).
    Predict: centroids are collected (10x64 doubles — weight-matrix-sized,
    within the 100 TB driver-state budget) and folded back in as array
    literals, so scoring is one narrow stage: zip_with squared-diff +
    sequential `aggregate` sum per centroid, `array_min` over
    (distance, label) structs for the argmin with smallest-label
    tie-break. No shuffle, no UDF, whole-stage codegen end-to-end."""
    emb = load(spark, sf_dir, "embeddings")
    train, test = deterministic_split(emb)

    numdims = len(emb.select("embedding").first()["embedding"])
    cent_rows = (train.select("label",
                              F.posexplode(F.col("embedding").cast("array<double>"))
                              .alias("i", "x"))
                 .groupBy("label", "i").agg(F.avg("x").alias("c"))
                 .collect())
    centroids: dict[int, list[float]] = {}
    for r in cent_rows:
        centroids.setdefault(r["label"], [0.0] * numdims)[r["i"]] = r["c"]

    v = F.col("embedding").cast("array<double>")
    cands = F.array(*[
        F.struct(
            F.round(F.aggregate(
                F.zip_with(v, F.lit(cvec), lambda x, c: (x - c) * (x - c)),
                F.lit(0.0), lambda acc, y: acc + y), 9).alias("d"),
            F.lit(lbl).alias("l"))
        for lbl, cvec in sorted(centroids.items())
    ])
    scored = test.withColumn("prediction", F.array_min(cands)["l"])
    return per_label_accuracy(scored)


@query("ml_logreg_eval", rows_only=(
    "L-BFGS training is iterative float optimization — not "
    "SQL-replayable (ml_logreg_gd_2iter is the oracle-exact GD twin)",
    "test_mllib_eval_shape"))
def ml_logreg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial logistic regression on raw embeddings (MLlib, L-BFGS).
    Deterministic id-mod split; returns per-label test accuracy.
    Rows-only: iterative training has no SQL equivalent."""
    emb = with_features(load(spark, sf_dir, "embeddings"))
    train, test = deterministic_split(emb)
    model = fit_logreg(train)
    return per_label_accuracy(model.transform(test))


@query("ml_dbn_logreg_eval", rows_only=(
    "stacked RBM pre-training + LBFGS head — iterative, seeded, not "
    "SQL-replayable (rbm_dbn_two_layer oracle-checks the DBN core)",
    "test_mllib_eval_shape"))
def ml_dbn_logreg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full reference pipeline, completed: greedy layer-wise RBM
    pre-training (64->32, deterministic mean-field CD-1, seeded — SURVEY.md
    C5/C6) -> forward-prop features -> logistic-regression head, composed
    through the real MLlib Pipeline/PipelineModel API. This is the
    README's promised-but-missing supervised stage
    (/root/reference/README.md:2). Rows-only."""
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import LogisticRegression

    from ..rbm.trainer import DBN
    from .pipeline import DBNFeaturizer

    emb = load(spark, sf_dir, "embeddings")
    train, test = deterministic_split(emb)
    dbn = DBN([64, 32], max_epoch=2, seed=42).fit(
        train.withColumn("v", F.col("embedding").cast("array<double>")), "v")
    pipe = Pipeline(stages=[
        DBNFeaturizer(dbn),
        LogisticRegression(maxIter=50, family="multinomial"),
    ])
    model = pipe.fit(train)  # PipelineModel
    return per_label_accuracy(model.transform(test))


@query("ml_mlp_eval", rows_only=(
    "backprop training (MLlib MLP) is iterative and seeded — not "
    "SQL-replayable (ml_centroid_classifier is the relational "
    "classification twin)",
    "test_mllib_eval_shape"))
def ml_mlp_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feed-forward sigmoid network trained by backprop (MLlib
    MultilayerPerceptronClassifier, seeded) — the literal
    "back-propagation fine tuning" of /root/reference/README.md:2.
    Rows-only."""
    emb = with_features(load(spark, sf_dir, "embeddings"))
    train, test = deterministic_split(emb)
    model = fit_mlp(train, layers=[64, 32, 10])
    return per_label_accuracy(model.transform(test))


_KMEANS_K = 8

_KMEANS_ORACLE = f"""
WITH e AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
                  unnest(embedding)::DOUBLE AS x FROM embeddings),
seed AS (SELECT vec_id AS cid, i, x FROM e WHERE vec_id < {_KMEANS_K}),
d1 AS (SELECT e.vec_id, s.cid, round(sum((e.x - s.x) * (e.x - s.x)), 9) AS d2
       FROM e JOIN seed s ON s.i = e.i GROUP BY e.vec_id, s.cid),
a1 AS (SELECT vec_id, cid FROM (
         SELECT vec_id, cid,
                row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
         FROM d1) WHERE rn = 1),
c1 AS (SELECT a1.cid, e.i, avg(e.x) AS x
       FROM a1 JOIN e USING (vec_id) GROUP BY a1.cid, e.i),
d2_ AS (SELECT e.vec_id, c.cid, round(sum((e.x - c.x) * (e.x - c.x)), 9) AS d2
        FROM e JOIN c1 c ON c.i = e.i GROUP BY e.vec_id, c.cid),
a2 AS (SELECT vec_id, cid FROM (
         SELECT vec_id, cid,
                row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
         FROM d2_) WHERE rn = 1),
c2 AS (SELECT a2.cid, e.i, avg(e.x) AS x
       FROM a2 JOIN e USING (vec_id) GROUP BY a2.cid, e.i)
SELECT cnt.cid AS cluster, cnt.n, round(n2.norm2, 6) AS norm2
FROM (SELECT cid, count(*)::BIGINT AS n FROM a2 GROUP BY cid) cnt
JOIN (SELECT cid, sum(x * x) AS norm2 FROM c2 GROUP BY cid) n2
  USING (cid)
"""


def _kmeans_assign(df, centroids: dict) -> "DataFrame":
    """Assign each vector to its nearest centroid — centroids are folded
    in as array LITERALS (k x dim doubles, weight-matrix-sized driver
    state, same budget rule as ml_centroid_classifier), so assignment is
    one narrow whole-stage-codegen pass: zip_with squared-diff +
    sequential aggregate per centroid, array_min over (distance, cid)
    structs for the deterministic smallest-cid-tiebreak argmin.

    The distance is ROUNDED to a 9-digit grid before the argmin: Spark's
    sequential zip_with fold and the oracle's hash-agg sum add the same
    terms in different orders, and a near-tie between two centroids must
    not flip on a 1-ulp summation difference. Both engines snap to the
    same grid, so the discrete assignment agrees even when the raw
    doubles differ in the last bits."""
    v = F.col("embedding").cast("array<double>")
    cands = F.array(*[
        F.struct(
            F.round(F.aggregate(
                F.zip_with(v, F.lit(cvec), lambda x, c: (x - c) * (x - c)),
                F.lit(0.0), lambda acc, y: acc + y), 9).alias("d"),
            F.lit(cid).cast("bigint").alias("cid"))
        for cid, cvec in sorted(centroids.items())
    ])
    return df.withColumn("cid", F.array_min(cands)["cid"])


@query("ml_kmeans_lloyd_2iter", oracle=_KMEANS_ORACLE)
def ml_kmeans_lloyd_2iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means, 2 full iterations, ORACLE-EXACT — upgrades the
    engine's clustering story beyond the rows-only MLlib KMeans inside
    sim_ivf_topk. Deterministic seeding (first k vectors), then per
    iteration: literal-folded centroid assignment (narrow, no shuffle)
    and a posexplode + groupBy(cid, dim) mean for the update — the
    shuffle carries k x dims rows regardless of input size, exactly the
    RBM gradient-shuffle shape. The oracle replays both iterations
    relationally; row_number tie-breaks mirror the array_min struct
    ordering. Output: per-cluster size + rounded centroid norm.

    At 100 TB: each iteration = one narrow scored pass + one
    k*dims-wide aggregate; centroids (k x dims doubles) are the only
    driver state. More iterations = same plan repeated; 2 are enough to
    exercise assign->update->reassign against the oracle."""
    emb = load(spark, sf_dir, "embeddings")

    seeds = {r["vec_id"]: list(r["embedding"])
             for r in emb.filter(F.col("vec_id") < _KMEANS_K)
             .select("vec_id", F.col("embedding").cast("array<double>")
                     .alias("embedding")).collect()}

    cents = seeds
    assigned = None
    for _ in range(2):
        # The assignment pass already holds the embedding, so the update
        # posexplodes in the SAME narrow stage — no rows x dims shuffle
        # join; the only exchange is the k x dims partial aggregate.
        assigned = _kmeans_assign(emb, cents)
        cent_rows = (assigned.select(
                         "cid",
                         F.posexplode(F.col("embedding").cast("array<double>"))
                         .alias("i", "x"))
                     .groupBy("cid", "i").agg(F.avg("x").alias("x"))
                     .collect())
        new_cents: dict = {}
        dim = len(next(iter(cents.values())))
        for r in cent_rows:
            new_cents.setdefault(r["cid"], [0.0] * dim)[r["i"]] = r["x"]
        cents = new_cents

    counts = assigned.groupBy("cid").agg(F.count(F.lit(1)).alias("n"))
    norms = spark.createDataFrame(
        [(int(cid), float(sum(x * x for x in vec)))
         for cid, vec in sorted(cents.items())],
        "cid bigint, norm2 double")
    return (counts.join(F.broadcast(norms), "cid")
            .select(F.col("cid").alias("cluster"), "n",
                    F.round("norm2", 6).alias("norm2")))


_LR_RATE = 0.1

_LOGREG_GD_ORACLE = f"""
WITH e AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
                  unnest(embedding)::DOUBLE AS x FROM embeddings),
y AS (SELECT vec_id, CASE WHEN label = 0 THEN 1.0 ELSE 0.0 END AS y
      FROM embeddings),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM embeddings),
g1 AS (SELECT e.i, sum((0.5 - y.y) * e.x) AS g
       FROM e JOIN y USING (vec_id) GROUP BY e.i),
w1 AS (SELECT i, -{_LR_RATE} * g / n.n AS w FROM g1, n),
z2 AS (SELECT e.vec_id, sum(e.x * w1.w) AS z
       FROM e JOIN w1 USING (i) GROUP BY e.vec_id),
p2 AS (SELECT vec_id, 1.0 / (1.0 + exp(-z)) AS p FROM z2),
g2 AS (SELECT e.i, sum((p2.p - y.y) * e.x) AS g
       FROM e JOIN p2 USING (vec_id) JOIN y USING (vec_id)
       GROUP BY e.i)
SELECT w1.i, round(w1.w - {_LR_RATE} * g2.g / n.n, 6) AS w
FROM w1 JOIN g2 USING (i), n
"""


@query("ml_logreg_gd_2iter", oracle=_LOGREG_GD_ORACLE)
def ml_logreg_gd_2iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-gradient logistic regression (one-vs-rest on label 0), two
    full GD iterations, ORACLE-EXACT — the from-scratch twin of the
    MLlib ml_logreg_eval (rows-only; its LBFGS internals are not
    SQL-replayable). From w0 = 0 the first gradient is closed-form
    (sigmoid(0) = 0.5); the second scores every row against w1 and
    re-aggregates. FULLY DISTRIBUTED, no driver-side weight folding:
    gradients are posexplode + groupBy(dim) (the shuffle carries dims
    rows, the RBM-gradient shape), the weight vector is a dim-sized
    DataFrame broadcast back for scoring. Sigmoid parity between
    engines is already pinned by the arr_sigmoid oracle (P4).
    Reference analog: the per-epoch gradient aggregation of
    driver.java:197-205, as one declarative plan per iteration."""
    emb = load(spark, sf_dir, "embeddings")
    n = float(emb.count())
    v = F.col("embedding").cast("array<double>")
    e = emb.select("vec_id", F.posexplode(v).alias("i", "x"))
    yv = emb.select("vec_id", F.when(F.col("label") == 0, 1.0)
                    .otherwise(0.0).alias("y"))

    g1 = (e.join(yv, "vec_id").groupBy("i")
          .agg(F.sum((F.lit(0.5) - F.col("y")) * F.col("x")).alias("g")))
    w1 = g1.select("i", (F.lit(-_LR_RATE) * F.col("g") / F.lit(n)).alias("w"))
    z2 = (e.join(F.broadcast(w1), "i").groupBy("vec_id")
          .agg(F.sum(F.col("x") * F.col("w")).alias("z")))
    p2 = z2.select("vec_id",
                   (F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("z")))).alias("p"))
    g2 = (e.join(p2, "vec_id").join(yv, "vec_id").groupBy("i")
          .agg(F.sum((F.col("p") - F.col("y")) * F.col("x")).alias("g")))
    return (w1.join(g2, "i")
            .select(F.col("i"),
                    F.round(F.col("w") - F.lit(_LR_RATE) * F.col("g")
                            / F.lit(n), 6).alias("w")))


@query("ml_naive_bayes_langid", oracle="""
WITH tok AS (
  SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS word
  FROM documents
),
tr AS (SELECT * FROM tok WHERE doc_id % 5 <> 0 AND word <> ''),
te AS (SELECT * FROM tok WHERE doc_id % 5 = 0 AND word <> ''),
langs AS (
  SELECT lang, count(DISTINCT doc_id) AS ndocs, count(*) AS ntok
  FROM tr GROUP BY lang
),
pri AS (
  SELECT lang, ntok,
         ln(ndocs / (SELECT CAST(sum(ndocs) AS DOUBLE) FROM langs)) AS prior
  FROM langs
),
vocab AS (SELECT count(DISTINCT word) AS v FROM tr),
wc AS (SELECT lang, word, count(*) AS c FROM tr GROUP BY lang, word),
doctok AS (
  SELECT doc_id, lang AS true_lang, word, count(*) AS k
  FROM te GROUP BY doc_id, lang, word
),
score AS (
  SELECT dt.doc_id, dt.true_lang, p.lang AS cand, p.prior,
         sum(dt.k * ln((coalesce(wc.c, 0) + 1.0) / (p.ntok + vocab.v)))
           AS loglik
  FROM doctok dt
  CROSS JOIN pri p
  CROSS JOIN vocab
  LEFT JOIN wc ON wc.lang = p.lang AND wc.word = dt.word
  GROUP BY dt.doc_id, dt.true_lang, p.lang, p.prior
),
ranked AS (
  SELECT doc_id, true_lang, cand,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY round(prior + loglik, 6) DESC, cand)
           AS rn
  FROM score
)
SELECT true_lang, cand AS pred_lang, CAST(count(*) AS BIGINT) AS n
FROM ranked WHERE rn = 1
GROUP BY true_lang, cand
""")
def ml_naive_bayes_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes language classifier, fully relational —
    counting-based training makes NB the one classical text classifier
    whose ENTIRE fit + predict is exact SQL (unlike the iterative MLlib
    estimators, which register rows-only). Laplace-smoothed likelihoods,
    log-space scoring, 80/20 deterministic doc_id split, confusion
    matrix out.

    Train = three keyed aggregates over the token stream (per-lang doc/
    token totals, vocab size, per-(lang,word) counts) — all partial-
    aggregated map-side, outputs are model-sized (langs x vocab), not
    corpus-sized. Predict = each test doc's DISTINCT words (pre-counted
    k) cross the langs-sized prior table (broadcast — model state, like
    the kmeans centroids) and left-join the count model on (lang, word)
    (broadcast again), then one keyed sum per (doc, cand) and an argmax
    window per doc. Scores round to a 6-digit grid BEFORE the argmax so
    Spark's and DuckDB's different summation orders cannot flip a rank
    (same guard as ml_kmeans_lloyd_2iter); ties break on candidate lang
    name. At 100 TB the only corpus-wide shuffles key on (doc_id, word)
    and (doc_id) — the model side always broadcasts."""
    docs = load(spark, sf_dir, "documents")
    tok = (docs.select("doc_id", "lang",
                       F.explode(F.split(F.lower(F.col("text")), " "))
                       .alias("word"))
           .filter(F.col("word") != ""))
    # Three model aggregates consume the SAME train token stream —
    # persist it so tokenization (the compute-bound split/explode) runs
    # once, not per-branch. Memoized per (session, sf_dir) like dedup's
    # minhash_sig_arrays: repeated invocations in a long-lived driver
    # reuse ONE persisted table instead of leaking a new cache entry per
    # call (round-4 advisor finding).
    from ..operators.dedup import memo_persist
    tr = memo_persist(spark, f"nb_train_tok::{sf_dir}",
                      lambda: tok.filter(F.col("doc_id") % 5 != 0))
    te = tok.filter(F.col("doc_id") % 5 == 0)

    langs = (tr.groupBy("lang")
             .agg(F.countDistinct("doc_id").alias("ndocs"),
                  F.count(F.lit(1)).alias("ntok")))
    alldocs = langs.agg(F.sum("ndocs").cast("double").alias("alldocs"))
    pri = (langs.crossJoin(F.broadcast(alldocs))
           .select("lang", "ntok",
                   F.log(F.col("ndocs") / F.col("alldocs")).alias("prior")))
    vocab = tr.agg(F.countDistinct("word").alias("v"))
    wc = tr.groupBy("lang", "word").agg(F.count(F.lit(1)).alias("c"))

    doctok = (te.groupBy("doc_id", F.col("lang").alias("true_lang"), "word")
              .agg(F.count(F.lit(1)).alias("k")))
    scored = (doctok
              .crossJoin(F.broadcast(pri.withColumnRenamed("lang", "cand")))
              .crossJoin(F.broadcast(vocab))
              .join(F.broadcast(wc.withColumnRenamed("lang", "cand")),
                    ["cand", "word"], "left")
              .groupBy("doc_id", "true_lang", "cand", "prior")
              .agg(F.sum(F.col("k")
                         * F.log((F.coalesce(F.col("c"), F.lit(0)) + 1.0)
                                 / (F.col("ntok") + F.col("v"))))
                   .alias("loglik")))
    from pyspark.sql import Window as W
    rn = F.row_number().over(
        W.partitionBy("doc_id")
        .orderBy(F.round(F.col("prior") + F.col("loglik"), 6).desc(),
                 F.col("cand")))
    return (scored.withColumn("rn", rn).filter(F.col("rn") == 1)
            .groupBy("true_lang", F.col("cand").alias("pred_lang"))
            .agg(F.count(F.lit(1)).alias("n")))


@query("ml_decision_stump_gain", oracle="""
WITH cand AS (
  SELECT unnest([10.0, 20.0, 30.0, 40.0, 50.0, 60.0, 70.0, 80.0, 90.0])
    AS t
),
splits AS (
  SELECT c.t,
         CASE WHEN e.value <= c.t THEN 'L' ELSE 'R' END AS side,
         e.event_type, count(*) AS n
  FROM events e CROSS JOIN cand c
  GROUP BY c.t, CASE WHEN e.value <= c.t THEN 'L' ELSE 'R' END,
           e.event_type
),
sided AS (
  SELECT t, side, event_type, n,
         CAST(sum(n) OVER (PARTITION BY t, side) AS DOUBLE) AS ns,
         CAST(sum(n) OVER (PARTITION BY t) AS DOUBLE) AS ntot
  FROM splits
),
hs AS (
  SELECT t, side, max(ns) AS ns, max(ntot) AS ntot,
         -sum((n / ns) * log2(n / ns)) AS h
  FROM sided GROUP BY t, side
),
root AS (
  SELECT event_type, sum(n) AS n FROM splits WHERE t = 10.0
  GROUP BY event_type
),
hroot AS (
  SELECT -sum((n / tot) * log2(n / tot)) AS h0
  FROM (SELECT n, CAST((SELECT sum(n) FROM root) AS DOUBLE) AS tot
        FROM root)
)
SELECT hs.t AS threshold,
       CAST(max(CASE WHEN side = 'L' THEN ns ELSE 0 END) AS BIGINT)
         AS n_left,
       CAST(max(CASE WHEN side = 'R' THEN ns ELSE 0 END) AS BIGINT)
         AS n_right,
       round(max(hroot.h0) - sum((ns / ntot) * h), 9) AS info_gain
FROM hs CROSS JOIN hroot
GROUP BY hs.t
""")
def ml_decision_stump_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-stump training as pure relational algebra: score every
    candidate split `value <= t` by information gain on the event_type
    label — the inner loop of a distributed decision-tree fitter
    (per-feature candidate-split evaluation), expressed as counting +
    entropy instead of an iterative trainer.

    The candidate grid is FIXED (deciles of the known [0,100) domain)
    rather than data-derived quantiles: thresholds are then bit-exact
    constants on both engines, so no boundary row can flip sides — the
    determinism guard that lets a float-comparing split be oracle-exact.
    Physical shape: events cross the 9-row broadcast candidate grid and
    partial-aggregate to (t, side, label) counts — 90 rows out of the
    one corpus-wide shuffle regardless of input size; everything after
    (side totals, entropies, gain) is arithmetic on that model-sized
    result. Exactly how Spark MLlib's tree fitter aggregates sufficient
    statistics, spelled declaratively."""
    from pyspark.sql import Window as W

    events = load(spark, sf_dir, "events")
    cand = spark.range(1, 10).select(
        (F.col("id") * 10.0).alias("t"))
    splits = (events.crossJoin(F.broadcast(cand))
              .select("t", F.when(F.col("value") <= F.col("t"), "L")
                      .otherwise("R").alias("side"), "event_type")
              .groupBy("t", "side", "event_type")
              .agg(F.count(F.lit(1)).alias("n")))
    sided = splits.select(
        "t", "side", "event_type", "n",
        F.sum("n").over(W.partitionBy("t", "side")).cast("double")
        .alias("ns"),
        F.sum("n").over(W.partitionBy("t")).cast("double").alias("ntot"))
    p = F.col("n") / F.col("ns")
    hs = (sided.groupBy("t", "side")
          .agg(F.max("ns").alias("ns"), F.max("ntot").alias("ntot"),
               (-F.sum(p * F.log2(p))).alias("h")))
    root = (splits.filter(F.col("t") == 10.0)
            .groupBy("event_type").agg(F.sum("n").alias("n")))
    tot = root.agg(F.sum("n").cast("double").alias("tot"))
    pr = F.col("n") / F.col("tot")
    hroot = (root.crossJoin(F.broadcast(tot))
             .agg((-F.sum(pr * F.log2(pr))).alias("h0")))
    return (hs.crossJoin(F.broadcast(hroot))
            .groupBy(F.col("t").alias("threshold"))
            .agg(F.max(F.when(F.col("side") == "L", F.col("ns"))
                       .otherwise(0.0)).cast("bigint").alias("n_left"),
                 F.max(F.when(F.col("side") == "R", F.col("ns"))
                       .otherwise(0.0)).cast("bigint").alias("n_right"),
                 F.round(F.max("h0")
                         - F.sum((F.col("ns") / F.col("ntot"))
                                 * F.col("h")), 9).alias("info_gain")))


@query("ml_kfold_centroid_cv", oracle="""
WITH folds AS (SELECT unnest([0, 1, 2, 3, 4]) AS f),
e AS (
  SELECT vec_id, label, vec_id % 5 AS fold,
         generate_subscripts(embedding, 1) AS i,
         unnest(embedding)::DOUBLE AS x
  FROM embeddings
),
cent AS (
  SELECT fo.f, e.label AS clabel, e.i, avg(e.x) AS c
  FROM e CROSS JOIN folds fo
  WHERE e.fold <> fo.f
  GROUP BY fo.f, e.label, e.i
),
d AS (
  SELECT te.vec_id, te.label, te.fold AS f, cent.clabel,
         round(sum((te.x - cent.c) * (te.x - cent.c)), 9) AS d2
  FROM e te JOIN cent ON cent.f = te.fold AND cent.i = te.i
  GROUP BY te.vec_id, te.label, te.fold, cent.clabel
),
p AS (
  SELECT f, vec_id, label, clabel AS pred,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2, clabel) AS rn
  FROM d
)
SELECT f AS fold, CAST(count(*) AS BIGINT) AS n_test,
       CAST(sum(CASE WHEN pred = label THEN 1 ELSE 0 END) AS BIGINT)
         AS n_correct,
       round(sum(CASE WHEN pred = label THEN 1 ELSE 0 END) * 1.0
             / count(*), 4) AS accuracy
FROM p WHERE rn = 1 GROUP BY f
""")
def ml_kfold_centroid_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-fold cross-validation of the nearest-centroid classifier,
    entirely relational: fold assignment is vec_id % 5, per-fold
    centroids aggregate over the OTHER four folds (the cross join
    against the 5-row fold table plus `fold <> f` IS leave-fold-out),
    and each test vector scores against exactly its own fold's model
    because the scoring join keys on (fold, i). One query evaluates all
    five models — the evaluation harness every classifier needs, with
    no driver loop over folds.

    Distances round to the 9-digit grid before the argmin (the
    ml_centroid_classifier guard). Scale: the centroid model is
    folds x labels x dims (3.2k rows — broadcast); the one corpus-wide
    shuffle is the (fold, label, i) partial-aggregated centroid build
    plus the per-vector distance aggregate, both keyed."""
    from pyspark.sql import Window as W

    emb = load(spark, sf_dir, "embeddings")
    e = (emb.select("vec_id", "label",
                    (F.col("vec_id") % 5).alias("fold"),
                    F.posexplode(F.col("embedding").cast("array<double>"))
                    .alias("i0", "x"))
         .select("vec_id", "label", "fold",
                 (F.col("i0") + 1).alias("i"), "x"))
    folds = spark.range(5).select(F.col("id").alias("f"))
    cent = (e.crossJoin(F.broadcast(folds))
            .filter(F.col("fold") != F.col("f"))
            .groupBy("f", F.col("label").alias("clabel"), "i")
            .agg(F.avg("x").alias("c")))
    d = (e.join(F.broadcast(cent),
                (cent.f == e.fold) & (cent.i == e.i))
         .groupBy("vec_id", "label", "fold", "clabel")
         .agg(F.round(F.sum((F.col("x") - F.col("c"))
                            * (F.col("x") - F.col("c"))), 9).alias("d2")))
    rn = F.row_number().over(
        W.partitionBy("vec_id").orderBy("d2", "clabel"))
    p = d.withColumn("rn", rn).filter(F.col("rn") == 1)
    hit = F.when(F.col("clabel") == F.col("label"), 1).otherwise(0)
    return (p.groupBy(F.col("fold").alias("fold"))
            .agg(F.count(F.lit(1)).alias("n_test"),
                 F.sum(hit).cast("bigint").alias("n_correct"),
                 F.round(F.sum(hit) / F.count(F.lit(1)), 4)
                 .alias("accuracy")))


@query("ml_ols_two_feature", oracle="""
WITH t AS (
  SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS x1,
         n_chars AS x2,
         CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS y
  FROM documents
),
s AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(x1) AS DOUBLE) AS s1, CAST(sum(x2) AS DOUBLE) AS s2,
         CAST(sum(x1 * x1) AS DOUBLE) AS s11,
         CAST(sum(x1 * x2) AS DOUBLE) AS s12,
         CAST(sum(x2 * x2) AS DOUBLE) AS s22,
         CAST(sum(y) AS DOUBLE) AS sy,
         CAST(sum(x1 * y) AS DOUBLE) AS sx1y,
         CAST(sum(x2 * y) AS DOUBLE) AS sx2y,
         CAST(sum(y * y) AS DOUBLE) AS syy
  FROM t
),
b AS (
  SELECT *,
    (n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2)
       + s2 * (s1 * s12 - s11 * s2)) AS det,
    (sy * (s11 * s22 - s12 * s12) - s1 * (sx1y * s22 - sx2y * s12)
       + s2 * (sx1y * s12 - sx2y * s11)) AS det0,
    (n * (sx1y * s22 - sx2y * s12) - sy * (s1 * s22 - s2 * s12)
       + s2 * (s1 * sx2y - s2 * sx1y)) AS det1,
    (n * (s11 * sx2y - s12 * sx1y) - s1 * (s1 * sx2y - s2 * sx1y)
       + sy * (s1 * s12 - s2 * s11)) AS det2
  FROM s
)
SELECT round(det0 / det, 6) AS b0,
       round(det1 / det, 6) AS b1,
       round(det2 / det, 6) AS b2,
       round(1 - (syy - ((det0 / det) * sy + (det1 / det) * sx1y
                         + (det2 / det) * sx2y))
               / (syy - sy * sy / n), 6) AS r2
FROM b
""")
def ml_ols_two_feature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form two-feature ordinary least squares (predict a doc's
    distinct-token count from its token and character counts) solved by
    Cramer's rule over the 3x3 normal equations — multiple regression
    as ONE distributed aggregate, the classic trick for fitting small
    models on huge data without an iterative solver (the built-in
    regr_* family, exercised by agg_regression_stats, stops at one
    regressor).

    Every moment (n, Σx, Σx², Σxy, ...) is an exact INTEGER sum cast to
    double (all < 2^53, so the cast is lossless), and both engines
    evaluate the same determinant expression tree over those identical
    doubles — bit-stable without any grid snapping. R² comes from the
    sums too (SSE = Σy² - b·X'y), so there is NO second pass over the
    data: one scan, one 10-sum aggregate row, scale-independent
    everything after."""
    docs = load(spark, sf_dir, "documents")
    w = F.split("text", " ")
    t = docs.select(
        F.size(w).cast("bigint").alias("x1"),
        F.col("n_chars").alias("x2"),
        F.size(F.array_distinct(w)).cast("bigint").alias("y"))
    x1, x2, y = F.col("x1"), F.col("x2"), F.col("y")
    s = t.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x1).cast("double").alias("s1"),
        F.sum(x2).cast("double").alias("s2"),
        F.sum(x1 * x1).cast("double").alias("s11"),
        F.sum(x1 * x2).cast("double").alias("s12"),
        F.sum(x2 * x2).cast("double").alias("s22"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x1 * y).cast("double").alias("sx1y"),
        F.sum(x2 * y).cast("double").alias("sx2y"),
        F.sum(y * y).cast("double").alias("syy"))
    c = {k: F.col(k) for k in
         ("n", "s1", "s2", "s11", "s12", "s22", "sy", "sx1y", "sx2y", "syy")}
    det = (c["n"] * (c["s11"] * c["s22"] - c["s12"] * c["s12"])
           - c["s1"] * (c["s1"] * c["s22"] - c["s12"] * c["s2"])
           + c["s2"] * (c["s1"] * c["s12"] - c["s11"] * c["s2"]))
    det0 = (c["sy"] * (c["s11"] * c["s22"] - c["s12"] * c["s12"])
            - c["s1"] * (c["sx1y"] * c["s22"] - c["sx2y"] * c["s12"])
            + c["s2"] * (c["sx1y"] * c["s12"] - c["sx2y"] * c["s11"]))
    det1 = (c["n"] * (c["sx1y"] * c["s22"] - c["sx2y"] * c["s12"])
            - c["sy"] * (c["s1"] * c["s22"] - c["s2"] * c["s12"])
            + c["s2"] * (c["s1"] * c["sx2y"] - c["s2"] * c["sx1y"]))
    det2 = (c["n"] * (c["s11"] * c["sx2y"] - c["s12"] * c["sx1y"])
            - c["s1"] * (c["s1"] * c["sx2y"] - c["s2"] * c["sx1y"])
            + c["sy"] * (c["s1"] * c["s12"] - c["s2"] * c["s11"]))
    b0, b1, b2 = det0 / det, det1 / det, det2 / det
    sse = c["syy"] - (b0 * c["sy"] + b1 * c["sx1y"] + b2 * c["sx2y"])
    sst = c["syy"] - c["sy"] * c["sy"] / c["n"]
    return s.select(F.round(b0, 6).alias("b0"), F.round(b1, 6).alias("b1"),
                    F.round(b2, 6).alias("b2"),
                    F.round(1 - sse / sst, 6).alias("r2"))


@query("ml_auc_rank_sum", oracle="""
WITH s AS (SELECT vec_id, CAST(label % 2 AS INTEGER) AS y,
                  CAST(embedding[1] AS DOUBLE) AS score
           FROM embeddings),
r AS (SELECT y, row_number() OVER (ORDER BY score, vec_id) AS rk FROM s),
a AS (SELECT CAST(sum(CASE WHEN y = 1 THEN rk END) AS DOUBLE) AS rs,
             CAST(sum(y) AS BIGINT) AS n_pos,
             CAST(count(*) - sum(y) AS BIGINT) AS n_neg
      FROM r)
SELECT n_pos, n_neg,
       round((rs - n_pos * (n_pos + 1) / 2.0) / (n_pos * n_neg), 6)
         AS auc
FROM a
""")
def ml_auc_rank_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT ROC-AUC via the Mann-Whitney rank-sum identity
    (AUC = (R_pos - n_pos(n_pos+1)/2) / (n_pos * n_neg)) — the
    closed-form evaluation metric next to the accuracy/confusion heads
    (ml_logreg_eval, ml_knn_classifier_eval): no thresholds swept, no
    trapezoid, one global rank. Binary target is label parity; the
    scored feature is the first embedding coordinate (a deliberately
    weak scorer — AUC lands near 0.5, exercising both rank tails).
    Ranks break score ties by vec_id, so the statistic is deterministic
    even with duplicated scores (documented variant of average-rank tie
    handling; the fixture's float scores are tie-free anyway).

    The global row_number is the one scale caveat: at 100 TB rank by
    (a) range-partitioned sort + per-partition offsets (the
    corpus_shard_assign two-phase prefix sum), not a single-partition
    window — the one-shot window form here IS that plan at test SF
    because the scored frame is vectors-count sized, not corpus-sized."""
    from pyspark.sql import Window as W

    emb = load(spark, sf_dir, "embeddings")
    s = emb.select(
        "vec_id", (F.col("label") % 2).cast("int").alias("y"),
        F.col("embedding")[0].cast("double").alias("score"))
    r = s.select("y", F.row_number().over(
        W.orderBy("score", "vec_id")).alias("rk"))
    a = r.agg(
        F.sum(F.when(F.col("y") == 1, F.col("rk"))).cast("double")
         .alias("rs"),
        F.sum("y").cast("bigint").alias("n_pos"),
        (F.count(F.lit(1)) - F.sum("y")).cast("bigint").alias("n_neg"))
    return a.select(
        "n_pos", "n_neg",
        F.round((F.col("rs") - F.col("n_pos") * (F.col("n_pos") + 1) / 2.0)
                / (F.col("n_pos") * F.col("n_neg")), 6).alias("auc"))


@query("ml_threshold_sweep_f1", oracle="""
WITH s AS (SELECT CAST(label % 2 AS INTEGER) AS y,
                  CAST(embedding[1] AS DOUBLE) AS score FROM embeddings),
g AS (SELECT (r.i - 9) * 0.05 AS thr FROM range(19) r(i)),
e AS (SELECT g.thr, s.y,
             CASE WHEN s.score >= g.thr THEN 1 ELSE 0 END AS pred
      FROM s CROSS JOIN g),
c AS (SELECT thr,
             CAST(sum(CASE WHEN y = 1 AND pred = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS tp,
             CAST(sum(CASE WHEN y = 0 AND pred = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS fp,
             CAST(sum(CASE WHEN y = 1 AND pred = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS fn
      FROM e GROUP BY thr)
SELECT round(thr, 2) AS thr, tp, fp, fn,
       round(CASE WHEN tp + fp > 0 THEN tp * 1.0 / (tp + fp) END, 6)
         AS precision,
       round(CASE WHEN tp + fn > 0 THEN tp * 1.0 / (tp + fn) END, 6)
         AS recall,
       round(CASE WHEN 2 * tp + fp + fn > 0
                  THEN 2.0 * tp / (2 * tp + fp + fn) END, 6) AS f1
FROM c
""")
def ml_threshold_sweep_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DECISION-THRESHOLD SWEEP: precision / recall / F1 at 19 evenly
    spaced score cutoffs — the table a deployment picks its operating
    point from, completing the eval family (ml_auc_rank_sum summarizes
    ranking quality threshold-free; this exposes the tradeoff curve).
    F1 uses the 2tp/(2tp+fp+fn) form (no intermediate p/r division, no
    0/0). Thresholds are (i-9)*0.05 computed in-engine — both engines
    derive the identical doubles, so every score-vs-threshold compare
    agrees; output rounds them to 2 for display. The grid cross join
    is a 19-row literal against the scored frame (one narrow pass, one
    (thr)-keyed combiner'd aggregate) — at 100 TB the sweep costs one
    scan regardless of grid size."""
    emb = load(spark, sf_dir, "embeddings")
    s = emb.select((F.col("label") % 2).cast("int").alias("y"),
                   F.col("embedding")[0].cast("double").alias("score"))
    g = (spark.range(19)
         .select(((F.col("id") - 9) * 0.05).alias("thr")))
    e = s.crossJoin(F.broadcast(g)).select(
        "thr", "y",
        F.when(F.col("score") >= F.col("thr"), 1).otherwise(0)
        .alias("pred"))
    c = e.groupBy("thr").agg(
        F.sum(F.when((F.col("y") == 1) & (F.col("pred") == 1), 1)
              .otherwise(0)).cast("bigint").alias("tp"),
        F.sum(F.when((F.col("y") == 0) & (F.col("pred") == 1), 1)
              .otherwise(0)).cast("bigint").alias("fp"),
        F.sum(F.when((F.col("y") == 1) & (F.col("pred") == 0), 1)
              .otherwise(0)).cast("bigint").alias("fn"))
    tp, fp, fn = F.col("tp"), F.col("fp"), F.col("fn")
    return c.select(
        F.round("thr", 2).alias("thr"), "tp", "fp", "fn",
        F.round(F.when(tp + fp > 0, tp * 1.0 / (tp + fp)), 6)
         .alias("precision"),
        F.round(F.when(tp + fn > 0, tp * 1.0 / (tp + fn)), 6)
         .alias("recall"),
        F.round(F.when(2 * tp + fp + fn > 0,
                       2.0 * tp / (2 * tp + fp + fn)), 6).alias("f1"))


@query("ml_calibration_bins", oracle="""
WITH s AS (SELECT CAST(label % 2 AS INTEGER) AS y,
                  CAST(embedding[1] AS DOUBLE) AS score FROM embeddings),
b AS (SELECT y, score,
             CAST(greatest(0, least(floor((score + 1.0) / 0.2), 9))
                  AS BIGINT) AS bin_id
      FROM s)
SELECT bin_id,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(score) / count(*), 6) AS mean_score,
       CAST(sum(y) AS BIGINT) / CAST(count(*) AS BIGINT) AS pos_frac,
       round((sum(score) / count(*) + 1.0) / 2.0
             - CAST(sum(y) AS BIGINT) / CAST(count(*) AS BIGINT), 6)
         AS calib_gap
FROM b GROUP BY bin_id
""")
def ml_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CALIBRATION / reliability diagram: bucket scores into 10
    equal-width bins over the fixed literal range [-1, 1] (clamped) and
    compare each bin's mean score — rescaled to [0,1] as the implied
    probability — against its observed positive rate. The per-bin gap is
    the reliability curve every probabilistic classifier is audited
    with (ECE is its weighted sum); completes the eval family next to
    ml_auc_rank_sum (ranking) and ml_threshold_sweep_f1 (operating
    point). Same deliberately weak scorer as both: first embedding
    coordinate vs label parity.

    Determinism: bin edges are literal arithmetic on the raw score
    (identical IEEE ops both engines); pos_frac is a pure integer-ratio
    division (no rounding needed); only the float-sum mean_score and
    the gap derived from it round to 6 (engine-neutral at these
    magnitudes — the q1 revenue-rounding precedent).

    Scale shape: a single narrow projection + one 10-group combiner'd
    aggregate — calibration of a petabyte of scores is one scan."""
    s = (load(spark, sf_dir, "embeddings")
         .select((F.col("label") % 2).cast("int").alias("y"),
                 F.col("embedding")[0].cast("double").alias("score")))
    bin_id = (F.greatest(
        F.lit(0), F.least(F.floor((F.col("score") + 1.0) / 0.2), F.lit(9)))
        .cast("bigint"))
    n = F.count(F.lit(1))
    pos = F.sum("y").cast("bigint")
    mean_score = F.sum("score") / n
    return (s.groupBy(bin_id.alias("bin_id"))
            .agg(n.cast("bigint").alias("n"),
                 F.round(mean_score, 6).alias("mean_score"),
                 (pos / n.cast("bigint")).alias("pos_frac"),
                 F.round((mean_score + 1.0) / 2.0
                         - pos / n.cast("bigint"), 6).alias("calib_gap")))


# AdaBoost grid: value thresholds x polarity. The synthetic target is
# (value >= 40) XOR (event_id % 7 == 0) — a noisy threshold concept:
# the best stump is t=40 at ~1/7 weighted error, and round 2's
# reweighting provably pushes that stump's weighted error to exactly
# 1/2, forcing a different pick (the textbook AdaBoost dynamic).
_ADA_THRESHOLDS = [10.0, 20.0, 30.0, 40.0, 50.0, 60.0, 70.0, 80.0, 90.0]
_ADA_NOISE_MOD = 7
_ADA_T_SQL = "[" + ", ".join(str(t) for t in _ADA_THRESHOLDS) + "]"


@query("ml_adaboost_stumps", oracle=f"""
WITH base AS (
  SELECT event_id, value,
         CASE WHEN (value >= 40.0) != (event_id % {_ADA_NOISE_MOD} = 0)
              THEN 1 ELSE -1 END AS y
  FROM events),
nn AS (SELECT count(*) AS n FROM base),
cand AS (
  SELECT g.t, p.pol
  FROM (SELECT unnest({_ADA_T_SQL}) AS t) g
  CROSS JOIN (SELECT unnest([1, -1]) AS pol) p),
h1 AS (
  SELECT c.t, c.pol,
         count(*) FILTER (WHERE (CASE WHEN b.value <= c.t
                                 THEN -c.pol ELSE c.pol END) != b.y) AS ec
  FROM base b CROSS JOIN cand c GROUP BY c.t, c.pol),
b1 AS (SELECT t, pol, ec FROM h1 ORDER BY ec, t, pol LIMIT 1),
s1 AS (
  SELECT b1.t, b1.pol, b1.ec,
         round(least(greatest(b1.ec, 1), nn.n - 1) * 1.0 / nn.n, 9) AS eps,
         round(0.5 * ln((nn.n - least(greatest(b1.ec, 1), nn.n - 1)) * 1.0
                        / least(greatest(b1.ec, 1), nn.n - 1)), 9) AS alpha,
         round(sqrt(least(greatest(b1.ec, 1), nn.n - 1) * 1.0
                    / (nn.n - least(greatest(b1.ec, 1), nn.n - 1))), 9)
           AS wc,
         round(sqrt((nn.n - least(greatest(b1.ec, 1), nn.n - 1)) * 1.0
                    / least(greatest(b1.ec, 1), nn.n - 1)), 9) AS wm
  FROM b1 CROSS JOIN nn),
marked AS (
  SELECT b.event_id, b.value, b.y,
         (CASE WHEN b.value <= s1.t THEN -s1.pol ELSE s1.pol END) = b.y
           AS r1c
  FROM base b CROSS JOIN s1),
h2 AS (
  SELECT c.t, c.pol,
         count(*) FILTER (WHERE m.r1c AND (CASE WHEN m.value <= c.t
                          THEN -c.pol ELSE c.pol END) != m.y) AS a,
         count(*) FILTER (WHERE NOT m.r1c AND (CASE WHEN m.value <= c.t
                          THEN -c.pol ELSE c.pol END) != m.y) AS b,
         count(*) FILTER (WHERE m.r1c) AS ncor,
         count(*) FILTER (WHERE NOT m.r1c) AS nwro
  FROM marked m CROSS JOIN cand c GROUP BY c.t, c.pol),
w2 AS (
  SELECT h2.t, h2.pol,
         round((s1.wc * h2.a + s1.wm * h2.b)
               / (s1.wc * h2.ncor + s1.wm * h2.nwro), 9) AS eps
  FROM h2 CROSS JOIN s1),
b2 AS (SELECT t, pol, eps FROM w2 ORDER BY eps, t, pol LIMIT 1),
s2 AS (
  SELECT t, pol, eps,
         round(0.5 * ln((1.0 - least(greatest(eps, round(1.0 / nn.n, 9)),
                                     round(1.0 - 1.0 / nn.n, 9)))
                        / least(greatest(eps, round(1.0 / nn.n, 9)),
                                round(1.0 - 1.0 / nn.n, 9))), 9) AS alpha
  FROM b2 CROSS JOIN nn),
ens AS (
  SELECT count(*) FILTER (WHERE
           (CASE WHEN s1.alpha * (CASE WHEN b.value <= s1.t
                                  THEN -s1.pol ELSE s1.pol END)
               + s2.alpha * (CASE WHEN b.value <= s2.t
                             THEN -s2.pol ELSE s2.pol END) >= 0
            THEN 1 ELSE -1 END) = b.y) AS nok
  FROM base b CROSS JOIN s1 CROSS JOIN s2)
SELECT CAST(1 AS BIGINT) AS round, s1.t AS threshold,
       CAST(s1.pol AS BIGINT) AS polarity, s1.eps AS werr, s1.alpha,
       round((nn.n - s1.ec) * 1.0 / nn.n, 9) AS ens_acc
FROM s1 CROSS JOIN nn
UNION ALL
SELECT CAST(2 AS BIGINT), s2.t, CAST(s2.pol AS BIGINT), s2.eps, s2.alpha,
       round(ens.nok * 1.0 / nn.n, 9)
FROM s2 CROSS JOIN ens CROSS JOIN nn
""")
def ml_adaboost_stumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AdaBoost.M1 with decision stumps, two rounds UNROLLED as
    relational algebra (Freund & Schapire 1997) — the boosting loop a
    distributed GBDT/AdaBoost fitter runs, expressed as sufficient-
    statistic aggregation instead of per-sample mutation. The exact
    trick that keeps it relational: after round 1 the sample weights
    take only TWO values (exp(-a) for correct, exp(+a) for wrong), so
    round 2's weighted error for every candidate stump is a linear
    combination of FOUR integer counts — (r1-correct, h2-wrong) and
    (r1-wrong, h2-wrong) against the two class totals — no per-row
    weight column ever materializes, and the weight constants are
    closed-form sqrt(eps/(1-eps)) snapped to the 9-digit grid (never
    exp(round(ln(...))), which would double-drift across engines).

    Candidate grid: {len(_ADA_THRESHOLDS)} fixed thresholds x 2
    polarities (ml_decision_stump_gain's bit-exact-constants guard);
    argmins order on (rounded error, t, pol) so no float tie can flip
    the pick. Target: (value >= 40) XOR (event_id % {_ADA_NOISE_MOD}
    == 0) — a noisy threshold concept, so round 1 finds t=40 at ~1/7
    error, the reweight drives that stump to exactly 1/2, and round 2
    must pick elsewhere: real boosting dynamics on synthetic data.

    Scale shape: two corpus-wide partial-aggregate shuffles (one per
    round), each emitting grid-sized sufficient statistics (36 counts);
    everything else is 1-row scalar broadcasts crossed into the stream
    (the decision-stump/KN-normalizer class). At 100 TB: 2 scans + 2
    tiny shuffles — the same cost envelope as MLlib's tree fitter per
    depth level."""
    events = load(spark, sf_dir, "events")
    base = events.select(
        "event_id", "value",
        F.when((F.col("value") >= 40.0)
               != (F.col("event_id") % _ADA_NOISE_MOD == 0), 1)
        .otherwise(-1).alias("y"))
    nn = base.agg(F.count(F.lit(1)).alias("n"))
    ts = spark.createDataFrame([(t,) for t in _ADA_THRESHOLDS], "t double")
    pols = spark.createDataFrame([(1,), (-1,)], "pol int")
    cand = ts.crossJoin(pols)

    def h(v, t, pol):
        return F.when(v <= t, -pol).otherwise(pol)

    pred1 = h(F.col("value"), F.col("t"), F.col("pol"))
    h1 = (base.crossJoin(F.broadcast(cand))
          .groupBy("t", "pol")
          .agg(F.sum(F.when(pred1 != F.col("y"), 1).otherwise(0))
               .alias("ec")))
    b1 = h1.orderBy("ec", "t", "pol").limit(1)
    # Standard AdaBoost epsilon clamp (ADVICE r07): a perfectly separable
    # stump (ec=0 or ec=n) would otherwise send alpha/wc/wm to inf/NaN,
    # where Spark and DuckDB degrade differently. Clamp ec to [1, n-1]
    # with the IDENTICAL expression in the oracle SQL.
    n_ = F.col("n")
    ec_ = F.least(F.greatest(F.col("ec"), F.lit(1)), n_ - 1)
    s1 = (b1.crossJoin(F.broadcast(nn))
          .select("t", "pol", "ec",
                  F.round(ec_ * 1.0 / n_, 9).alias("eps"),
                  F.round(0.5 * F.log((n_ - ec_) * 1.0 / ec_), 9)
                  .alias("alpha"),
                  F.round(F.sqrt(ec_ * 1.0 / (n_ - ec_)), 9).alias("wc"),
                  F.round(F.sqrt((n_ - ec_) * 1.0 / ec_), 9).alias("wm"))
          .localCheckpoint())
    sel1 = s1.select(F.col("t").alias("t1"), F.col("pol").alias("pol1"),
                     F.col("eps").alias("eps1"), F.col("alpha").alias("a1"),
                     "wc", "wm", "ec")
    marked = (base.crossJoin(F.broadcast(sel1))
              .withColumn("r1c", h(F.col("value"), F.col("t1"),
                                   F.col("pol1")) == F.col("y")))
    pred2 = h(F.col("value"), F.col("t"), F.col("pol"))
    wrong2 = pred2 != F.col("y")
    h2 = (marked.crossJoin(F.broadcast(cand))
          .groupBy("t", "pol")
          .agg(F.sum(F.when(F.col("r1c") & wrong2, 1).otherwise(0))
               .alias("a"),
               F.sum(F.when(~F.col("r1c") & wrong2, 1).otherwise(0))
               .alias("b"),
               F.sum(F.when(F.col("r1c"), 1).otherwise(0)).alias("ncor"),
               F.sum(F.when(~F.col("r1c"), 1).otherwise(0)).alias("nwro")))
    w2 = (h2.crossJoin(F.broadcast(s1.select("wc", "wm")))
          .select("t", "pol",
                  F.round((F.col("wc") * F.col("a")
                           + F.col("wm") * F.col("b"))
                          / (F.col("wc") * F.col("ncor")
                             + F.col("wm") * F.col("nwro")), 9)
                  .alias("eps")))
    b2 = w2.orderBy("eps", "t", "pol").limit(1)
    # Same clamp for the round-2 weighted error (a rounded float in
    # [0, 1]): pin to [round(1/n, 9), round(1 - 1/n, 9)] before the log.
    epsc = F.least(F.greatest(F.col("eps"), F.round(1.0 / n_, 9)),
                   F.round(1.0 - 1.0 / n_, 9))
    s2 = (b2.crossJoin(F.broadcast(nn))
          .select("t", "pol", "eps",
                  F.round(0.5 * F.log((1.0 - epsc) / epsc), 9)
                  .alias("alpha"))
          .localCheckpoint())
    sel2 = s2.select(F.col("t").alias("t2"), F.col("pol").alias("pol2"),
                     F.col("eps").alias("eps2"), F.col("alpha").alias("a2"))
    scored = (base.crossJoin(F.broadcast(sel1.select("t1", "pol1", "a1")))
              .crossJoin(F.broadcast(sel2))
              .withColumn(
                  "s", F.col("a1") * h(F.col("value"), F.col("t1"),
                                       F.col("pol1"))
                  + F.col("a2") * h(F.col("value"), F.col("t2"),
                                    F.col("pol2"))))
    ens = scored.agg(F.sum(
        F.when((F.when(F.col("s") >= 0, 1).otherwise(-1))
               == F.col("y"), 1).otherwise(0)).alias("nok"))
    r1 = (s1.crossJoin(F.broadcast(nn))
          .select(F.lit(1).cast("bigint").alias("round"),
                  F.col("t").alias("threshold"),
                  F.col("pol").cast("bigint").alias("polarity"),
                  F.col("eps").alias("werr"), "alpha",
                  F.round((F.col("n") - F.col("ec")) * 1.0 / F.col("n"), 9)
                  .alias("ens_acc")))
    r2 = (s2.crossJoin(F.broadcast(ens)).crossJoin(F.broadcast(nn))
          .select(F.lit(2).cast("bigint").alias("round"),
                  F.col("t").alias("threshold"),
                  F.col("pol").cast("bigint").alias("polarity"),
                  F.col("eps").alias("werr"), "alpha",
                  F.round(F.col("nok") * 1.0 / F.col("n"), 9)
                  .alias("ens_acc")))
    return r1.unionByName(r2)


# Ridge penalties for ml_ridge_path: integer literals, lambda=0 is the
# OLS corner of the path.
_RIDGE_LAMS = (0, 1000, 1000000)


@query("ml_ridge_path", oracle=f"""
WITH t AS (
  SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS x1,
         n_chars AS x2,
         CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS y
  FROM documents),
s AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(x1) AS DOUBLE) AS s1, CAST(sum(x2) AS DOUBLE) AS s2,
         CAST(sum(x1 * x1) AS DOUBLE) AS s11,
         CAST(sum(x1 * x2) AS DOUBLE) AS s12,
         CAST(sum(x2 * x2) AS DOUBLE) AS s22,
         CAST(sum(y) AS DOUBLE) AS sy,
         CAST(sum(x1 * y) AS DOUBLE) AS sx1y,
         CAST(sum(x2 * y) AS DOUBLE) AS sx2y
  FROM t),
p AS (
  SELECT s.*, CAST(lam AS DOUBLE) AS lam
  FROM s CROSS JOIN unnest([{", ".join(str(v) for v in _RIDGE_LAMS)}])
       AS u(lam)),
d AS (
  SELECT lam, n, s1, s2, sy, sx1y, sx2y,
         s11 + lam AS a11, s12 AS a12, s22 + lam AS a22
  FROM p),
sol AS (
  SELECT lam,
         n * (a11 * a22 - a12 * a12)
           - s1 * (s1 * a22 - a12 * s2)
           + s2 * (s1 * a12 - a11 * s2) AS det,
         sy * (a11 * a22 - a12 * a12)
           - s1 * (sx1y * a22 - sx2y * a12)
           + s2 * (sx1y * a12 - sx2y * a11) AS det0,
         n * (sx1y * a22 - sx2y * a12)
           - sy * (s1 * a22 - s2 * a12)
           + s2 * (s1 * sx2y - s2 * sx1y) AS det1,
         n * (a11 * sx2y - a12 * sx1y)
           - s1 * (s1 * sx2y - s2 * sx1y)
           + sy * (s1 * a12 - a11 * s2) AS det2
  FROM d)
SELECT CAST(lam AS BIGINT) AS lam,
       round(det0 / det, 6) AS b0,
       round(det1 / det, 6) AS b1,
       round(det2 / det, 6) AS b2,
       round(sqrt((det1 / det) * (det1 / det)
                  + (det2 / det) * (det2 / det)), 6) AS coef_l2
FROM sol
""")
def ml_ridge_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIDGE REGRESSION PATH by closed form (Hoerl & Kennard 1970):
    the two-feature normal equations of ml_ols_two_feature with the L2
    penalty lam added to the feature diagonal (intercept unpenalized,
    the standard convention), solved by the same Cramer expansion at
    THREE penalties {_RIDGE_LAMS} — lam=0 IS the OLS corner, and the
    coefficient L2 norm column shows the shrinkage monotonically
    biting. The regularization-path-in-one-aggregate trick: the
    sufficient statistics (X'X, X'y) are penalty-independent, so the
    whole path costs ONE scan + a 3-row projection — exactly why
    production hyperparameter sweeps on huge data precompute moments.

    Determinism: exact integer moments cast to lossless doubles (the
    OLS argument), penalties are integer literals, both engines
    evaluate the same determinant expression tree; divisions and the
    norm round once at output.

    Scale shape: one combiner'd 9-sum aggregate over the corpus; the
    path explodes a 1-row frame by a 3-element literal array — no
    join, no second pass, state O(features^2) independent of rows."""
    docs = load(spark, sf_dir, "documents")
    w = F.split("text", " ")
    t = docs.select(
        F.size(w).cast("bigint").alias("x1"),
        F.col("n_chars").alias("x2"),
        F.size(F.array_distinct(w)).cast("bigint").alias("y"))
    x1, x2, y = F.col("x1"), F.col("x2"), F.col("y")
    s = t.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x1).cast("double").alias("s1"),
        F.sum(x2).cast("double").alias("s2"),
        F.sum(x1 * x1).cast("double").alias("s11"),
        F.sum(x1 * x2).cast("double").alias("s12"),
        F.sum(x2 * x2).cast("double").alias("s22"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x1 * y).cast("double").alias("sx1y"),
        F.sum(x2 * y).cast("double").alias("sx2y"))
    p = s.select(
        "*", F.explode(F.array(*[F.lit(float(v)) for v in _RIDGE_LAMS]))
        .alias("lam"))
    a11 = F.col("s11") + F.col("lam")
    a12 = F.col("s12")
    a22 = F.col("s22") + F.col("lam")
    c = {k: F.col(k) for k in ("n", "s1", "s2", "sy", "sx1y", "sx2y")}
    det = (c["n"] * (a11 * a22 - a12 * a12)
           - c["s1"] * (c["s1"] * a22 - a12 * c["s2"])
           + c["s2"] * (c["s1"] * a12 - a11 * c["s2"]))
    det0 = (c["sy"] * (a11 * a22 - a12 * a12)
            - c["s1"] * (c["sx1y"] * a22 - c["sx2y"] * a12)
            + c["s2"] * (c["sx1y"] * a12 - c["sx2y"] * a11))
    det1 = (c["n"] * (c["sx1y"] * a22 - c["sx2y"] * a12)
            - c["sy"] * (c["s1"] * a22 - c["s2"] * a12)
            + c["s2"] * (c["s1"] * c["sx2y"] - c["s2"] * c["sx1y"]))
    det2 = (c["n"] * (a11 * c["sx2y"] - a12 * c["sx1y"])
            - c["s1"] * (c["s1"] * c["sx2y"] - c["s2"] * c["sx1y"])
            + c["sy"] * (c["s1"] * a12 - a11 * c["s2"]))
    b1, b2 = det1 / det, det2 / det
    return p.select(
        F.col("lam").cast("bigint").alias("lam"),
        F.round(det0 / det, 6).alias("b0"),
        F.round(b1, 6).alias("b1"),
        F.round(b2, 6).alias("b2"),
        F.round(F.sqrt(b1 * b1 + b2 * b2), 6).alias("coef_l2"))


# Isotonic calibration: value-decile score bins, noisy-threshold target
# (the AdaBoost fixture recipe at a different threshold/modulus).
_ISO_BINS, _ISO_THRESH, _ISO_NOISE_MOD = 9, 40.0, 11


@query("ml_isotonic_pav", eager=True, oracle=f"""
WITH b AS (
  SELECT least(CAST(floor(value / 10) AS BIGINT), {_ISO_BINS}) AS bin,
         CASE WHEN (value >= {_ISO_THRESH}) != (event_id % {_ISO_NOISE_MOD} = 0)
              THEN 1 ELSE 0 END AS y
  FROM events),
s AS (SELECT bin, count(*) AS n, sum(y) AS sy FROM b GROUP BY bin),
c AS (SELECT bin, n, sy,
             sum(n) OVER (ORDER BY bin) AS wn,
             sum(sy) OVER (ORDER BY bin) AS ws
      FROM s),
a AS (
  SELECT i.bin AS i, j.bin AS j,
         round((j.ws - (i.ws - i.sy)) * 1.0
               / (j.wn - (i.wn - i.n)), 9) AS avgij
  FROM c i JOIN c j ON i.bin <= j.bin),
im AS (
  SELECT k.bin AS k, a.i, min(a.avgij) AS mn
  FROM c k JOIN a ON a.i <= k.bin AND a.j >= k.bin
  GROUP BY k.bin, a.i),
fit AS (SELECT k, max(mn) AS iso FROM im GROUP BY k)
SELECT s.bin, CAST(s.n AS BIGINT) AS n,
       round(s.sy * 1.0 / s.n, 6) AS raw_rate,
       round(f.iso, 6) AS iso_rate
FROM s JOIN fit f ON f.k = s.bin
""")
def ml_isotonic_pav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISOTONIC REGRESSION over score bins — probability calibration by
    pool-adjacent-violators (Barlow et al. 1972; Zadrozny & Elkan 2002
    made it the standard classifier-calibration step, and MLlib ships
    it as IsotonicRegression). Bins events by value decile, targets the
    noisy threshold concept (value >= {_ISO_THRESH}) xor (event_id %
    {_ISO_NOISE_MOD} == 0), and fits the best NON-DECREASING rate per
    bin. Instead of the sequential PAV pooling loop, this uses the
    minimax identity — iso[k] = max_(i<=k) min_(j>=k) avg(y[i..j]) —
    which turns the fit into pure relational algebra over prefix sums
    (Robertson/Wright/Dykstra eq. 1.9: the solution to every isotonic
    regression is this minimax of interval means), so the oracle
    replays it exactly; the PAV loop and the minimax formula provably
    coincide.

    Determinism: interval means divide exact int64 prefix sums and snap
    to the 9-digit grid BEFORE the min/max lattice (identical doubles
    both engines -> identical order statistics); the output rounds
    once more for display.

    Scale shape: one corpus scan to (bin, n, sum_y) — {_ISO_BINS + 1}
    rows of sufficient statistics — then the whole minimax lattice is
    O(bins^3) algebra on model-sized state (the AdaBoost
    sufficient-statistic pattern). At 100 TB: one combiner'd shuffle,
    nothing else grows."""
    from pyspark.sql import Window as W

    ev = load(spark, sf_dir, "events")
    b = ev.select(
        F.least(F.floor(F.col("value") / 10).cast("bigint"),
                F.lit(_ISO_BINS)).alias("bin"),
        F.when((F.col("value") >= _ISO_THRESH)
               != (F.col("event_id") % _ISO_NOISE_MOD == 0), 1)
        .otherwise(0).alias("y"))
    s = (b.groupBy("bin").agg(F.count(F.lit(1)).alias("n"),
                              F.sum("y").alias("sy"))
         .localCheckpoint())
    wcum = W.orderBy("bin").rowsBetween(W.unboundedPreceding, W.currentRow)
    c = (s.withColumn("wn", F.sum("n").over(wcum))
         .withColumn("ws", F.sum("sy").over(wcum)))
    ci = c.select(F.col("bin").alias("i"), F.col("n").alias("ni"),
                  F.col("sy").alias("si"), F.col("wn").alias("wni"),
                  F.col("ws").alias("wsi"))
    cj = c.select(F.col("bin").alias("j"), F.col("wn").alias("wnj"),
                  F.col("ws").alias("wsj"))
    a = (ci.join(cj, F.col("i") <= F.col("j"))
         .select("i", "j",
                 F.round((F.col("wsj") - (F.col("wsi") - F.col("si"))) * 1.0
                         / (F.col("wnj") - (F.col("wni") - F.col("ni"))), 9)
                 .alias("avgij")))
    k = c.select(F.col("bin").alias("k"))
    im = (k.join(a, (F.col("i") <= F.col("k")) & (F.col("j") >= F.col("k")))
          .groupBy("k", "i").agg(F.min("avgij").alias("mn")))
    fit = im.groupBy("k").agg(F.max("mn").alias("iso"))
    return (s.join(fit, s.bin == fit.k)
            .select("bin", F.col("n").cast("bigint").alias("n"),
                    F.round(F.col("sy") * 1.0 / F.col("n"), 6)
                    .alias("raw_rate"),
                    F.round("iso", 6).alias("iso_rate")))


# LS gradient boosting: stump grid (the AdaBoost thresholds), dyadic
# learning rate, money target in exact integer cents.
_GBM_NU = 0.5
_GBM_T_SQL = "[" + ", ".join(str(t) for t in _ADA_THRESHOLDS) + "]"


@query("ml_gbm_ls_stumps", eager=True, oracle=f"""
WITH base AS (
  SELECT CAST(round(value * 100) AS BIGINT) AS y, value FROM events),
nn AS (SELECT count(*) AS n, sum(y) AS sy, sum(y * y) AS syy FROM base),
f0t AS (SELECT n, sy, syy, round(sy * 1.0 / n, 6) AS f0 FROM nn),
cand AS (SELECT unnest({_GBM_T_SQL}) AS t),
h1 AS (
  SELECT c.t,
         count(*) FILTER (WHERE b.value <= c.t) AS nl,
         COALESCE(sum(b.y) FILTER (WHERE b.value <= c.t), 0) AS syl
  FROM base b CROSS JOIN cand c GROUP BY c.t),
g1 AS (
  SELECT h1.t, h1.nl, f.n - h1.nl AS nr, h1.syl, f.sy - h1.syl AS syr,
         h1.syl - h1.nl * f.f0 AS rl, (f.sy - h1.syl) - (f.n - h1.nl) * f.f0 AS rr
  FROM h1 CROSS JOIN f0t f
  WHERE h1.nl > 0 AND f.n - h1.nl > 0),
b1 AS (SELECT * FROM g1
       ORDER BY rl * rl / nl + rr * rr / nr DESC, t LIMIT 1),
s1 AS (
  SELECT t AS t1, nl AS n1l, nr AS n1r, syl AS sy1l, syr AS sy1r,
         round(rl / nl, 9) AS lo1, round(rr / nr, 9) AS hi1
  FROM b1),
fs AS (SELECT s1.*, f.n, f.sy, f.syy, f.f0,
              f.f0 + {_GBM_NU} * s1.lo1 AS f1l,
              f.f0 + {_GBM_NU} * s1.hi1 AS f1r
       FROM s1 CROSS JOIN f0t f),
h2 AS (
  SELECT c.t,
         count(*) FILTER (WHERE b.value <= fs.t1 AND b.value <= c.t) AS nll,
         COALESCE(sum(b.y) FILTER (WHERE b.value <= fs.t1
                                     AND b.value <= c.t), 0) AS syll,
         count(*) FILTER (WHERE b.value > fs.t1 AND b.value <= c.t) AS nrl,
         COALESCE(sum(b.y) FILTER (WHERE b.value > fs.t1
                                     AND b.value <= c.t), 0) AS syrl
  FROM base b CROSS JOIN cand c CROSS JOIN fs GROUP BY c.t),
g2 AS (
  SELECT h2.t, h2.nll + h2.nrl AS n2l, fs.n - h2.nll - h2.nrl AS n2r,
         (h2.syll - h2.nll * fs.f1l) + (h2.syrl - h2.nrl * fs.f1r) AS rl,
         ((fs.sy1l - h2.syll) - (fs.n1l - h2.nll) * fs.f1l)
           + ((fs.sy1r - h2.syrl) - (fs.n1r - h2.nrl) * fs.f1r) AS rr
  FROM h2 CROSS JOIN fs
  WHERE h2.nll + h2.nrl > 0 AND fs.n - h2.nll - h2.nrl > 0),
b2 AS (SELECT * FROM g2
       ORDER BY rl * rl / n2l + rr * rr / n2r DESC, t LIMIT 1),
s2 AS (
  SELECT t AS t2, n2l, n2r,
         round(rl / n2l, 9) AS lo2, round(rr / n2r, 9) AS hi2
  FROM b2),
cells AS (
  SELECT b.value <= fs.t1 AS s1side, b.value <= s2.t2 AS s2side,
         count(*) AS nc, sum(b.y) AS syc, sum(b.y * b.y) AS syyc
  FROM base b CROSS JOIN fs CROSS JOIN s2 GROUP BY 1, 2),
r1sse AS (
  SELECT sum(syyc - 2 * (CASE WHEN s1side THEN fs.f1l ELSE fs.f1r END) * syc
             + nc * (CASE WHEN s1side THEN fs.f1l ELSE fs.f1r END)
                  * (CASE WHEN s1side THEN fs.f1l ELSE fs.f1r END)) AS sse1
  FROM cells CROSS JOIN fs),
r2sse AS (
  SELECT sum(syyc
             - 2 * ((CASE WHEN s1side THEN fs.f1l ELSE fs.f1r END)
                    + {_GBM_NU} * (CASE WHEN s2side THEN s2.lo2
                                        ELSE s2.hi2 END)) * syc
             + nc * ((CASE WHEN s1side THEN fs.f1l ELSE fs.f1r END)
                     + {_GBM_NU} * (CASE WHEN s2side THEN s2.lo2
                                         ELSE s2.hi2 END))
                  * ((CASE WHEN s1side THEN fs.f1l ELSE fs.f1r END)
                     + {_GBM_NU} * (CASE WHEN s2side THEN s2.lo2
                                         ELSE s2.hi2 END))) AS sse2
  FROM cells CROSS JOIN fs CROSS JOIN s2)
SELECT CAST(1 AS BIGINT) AS round, CAST(fs.t1 AS DOUBLE) AS threshold,
       CAST(fs.n1l AS BIGINT) AS n_lo, CAST(fs.n1r AS BIGINT) AS n_hi,
       fs.lo1 AS leaf_lo, fs.hi1 AS leaf_hi,
       round(sqrt(r1sse.sse1 / fs.n), 6) AS rmse_after
FROM fs CROSS JOIN r1sse
UNION ALL
SELECT CAST(2 AS BIGINT), CAST(s2.t2 AS DOUBLE),
       CAST(s2.n2l AS BIGINT), CAST(s2.n2r AS BIGINT),
       s2.lo2, s2.hi2,
       round(sqrt(r2sse.sse2 / fs.n), 6)
FROM s2 CROSS JOIN r2sse CROSS JOIN fs
""")
def ml_gbm_ls_stumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAST-SQUARES GRADIENT BOOSTING with decision stumps, two rounds
    unrolled (Friedman 2001's L2Boost special case — the loop inside
    every GBDT library, expressed as sufficient-statistic relational
    algebra like ml_adaboost_stumps): F0 = mean(y); each round fits a
    stump to the RESIDUALS and steps F <- F + nu * stump with the
    dyadic learning rate nu = {_GBM_NU}. The relational trick mirrors
    AdaBoost's: after round 1 the model F1 is piecewise-constant over
    TWO cells, so every round-2 candidate's residual sums are linear
    combinations of INTEGER (count, sum-y) statistics per (round-1
    side x candidate side) cell — no per-row residual column ever
    materializes, and the train-RMSE ledger falls out of per-cell
    (n, sum y, sum y^2) via sum((y-c)^2) = syy - 2c*sy + n*c^2.
    Target: o_totalprice-style money in exact integer cents
    (round(value*100)); on the events fixture round 1 splits at 80,
    round 2 refines at 40, RMSE 4910 -> 3520 -> 2790 cents — real
    boosting dynamics (each round must pick a DIFFERENT split to gain).

    Determinism: every data aggregate is integer (counts, cent sums,
    cent-square sums — the no-float-accumulation rule); leaf values and
    F-constants are scalars snapped to the 9/6-digit grids, and the
    argmax compares gains computed by the IDENTICAL expression tree
    over identical inputs in both engines, tie-broken on t.

    Scale shape: two corpus scans (one conditional-aggregate shuffle
    each, grid-sized output) + one 4-cell scan for the ledger;
    everything else is 1-row scalar broadcasts — the exact per-level
    cost envelope of MLlib's GBTRegressor with maxDepth=1."""
    events = load(spark, sf_dir, "events")
    base = events.select(
        F.round(F.col("value") * 100).cast("bigint").alias("y"), "value")
    nn = base.agg(F.count(F.lit(1)).alias("n"), F.sum("y").alias("sy"),
                  F.sum(F.col("y") * F.col("y")).alias("syy"))
    f0t = nn.select("n", "sy", "syy",
                    F.round(F.col("sy") * 1.0 / F.col("n"), 6).alias("f0"))
    cand = spark.createDataFrame([(t,) for t in _ADA_THRESHOLDS],
                                 "t double")
    inl = F.col("value") <= F.col("t")
    h1 = (base.crossJoin(F.broadcast(cand))
          .groupBy("t")
          .agg(F.sum(F.when(inl, 1).otherwise(0)).alias("nl"),
               F.coalesce(F.sum(F.when(inl, F.col("y"))), F.lit(0))
               .alias("syl")))
    g1 = (h1.crossJoin(F.broadcast(f0t))
          .withColumn("nr", F.col("n") - F.col("nl"))
          .withColumn("syr", F.col("sy") - F.col("syl"))
          .withColumn("rl", F.col("syl") - F.col("nl") * F.col("f0"))
          .withColumn("rr", F.col("syr") - F.col("nr") * F.col("f0"))
          .filter((F.col("nl") > 0) & (F.col("nr") > 0)))
    gain = (F.col("rl") * F.col("rl") / F.col("nl")
            + F.col("rr") * F.col("rr") / F.col("nr"))
    b1 = g1.orderBy(gain.desc(), F.asc("t")).limit(1)
    s1 = b1.select(F.col("t").alias("t1"), F.col("nl").alias("n1l"),
                   F.col("nr").alias("n1r"), F.col("syl").alias("sy1l"),
                   F.col("syr").alias("sy1r"),
                   F.round(F.col("rl") / F.col("nl"), 9).alias("lo1"),
                   F.round(F.col("rr") / F.col("nr"), 9).alias("hi1"))
    fs = (s1.crossJoin(F.broadcast(f0t))
          .withColumn("f1l", F.col("f0") + _GBM_NU * F.col("lo1"))
          .withColumn("f1r", F.col("f0") + _GBM_NU * F.col("hi1"))
          .localCheckpoint())
    in1 = F.col("value") <= F.col("t1")
    h2 = (base.crossJoin(F.broadcast(cand)).crossJoin(F.broadcast(fs))
          .groupBy("t")
          .agg(F.sum(F.when(in1 & inl, 1).otherwise(0)).alias("nll"),
               F.coalesce(F.sum(F.when(in1 & inl, F.col("y"))), F.lit(0))
               .alias("syll"),
               F.sum(F.when(~in1 & inl, 1).otherwise(0)).alias("nrl"),
               F.coalesce(F.sum(F.when(~in1 & inl, F.col("y"))), F.lit(0))
               .alias("syrl")))
    g2 = (h2.crossJoin(F.broadcast(fs))
          .withColumn("n2l", F.col("nll") + F.col("nrl"))
          .withColumn("n2r", F.col("n") - F.col("nll") - F.col("nrl"))
          .withColumn("rl", (F.col("syll") - F.col("nll") * F.col("f1l"))
                      + (F.col("syrl") - F.col("nrl") * F.col("f1r")))
          .withColumn("rr",
                      ((F.col("sy1l") - F.col("syll"))
                       - (F.col("n1l") - F.col("nll")) * F.col("f1l"))
                      + ((F.col("sy1r") - F.col("syrl"))
                         - (F.col("n1r") - F.col("nrl")) * F.col("f1r")))
          .filter((F.col("n2l") > 0) & (F.col("n2r") > 0)))
    gain2 = (F.col("rl") * F.col("rl") / F.col("n2l")
             + F.col("rr") * F.col("rr") / F.col("n2r"))
    b2 = g2.orderBy(gain2.desc(), F.asc("t")).limit(1)
    s2 = (b2.select(F.col("t").alias("t2"), "n2l", "n2r",
                    F.round(F.col("rl") / F.col("n2l"), 9).alias("lo2"),
                    F.round(F.col("rr") / F.col("n2r"), 9).alias("hi2"))
          .localCheckpoint())
    cells = (base.crossJoin(F.broadcast(fs)).crossJoin(F.broadcast(s2))
             .groupBy(in1.alias("s1side"),
                      (F.col("value") <= F.col("t2")).alias("s2side"))
             .agg(F.count(F.lit(1)).alias("nc"), F.sum("y").alias("syc"),
                  F.sum(F.col("y") * F.col("y")).alias("syyc")))
    c1 = F.when(F.col("s1side"), F.col("f1l")).otherwise(F.col("f1r"))
    c2 = c1 + _GBM_NU * F.when(F.col("s2side"), F.col("lo2")) \
        .otherwise(F.col("hi2"))
    r1sse = (cells.crossJoin(F.broadcast(fs))
             .agg(F.sum(F.col("syyc") - 2 * c1 * F.col("syc")
                        + F.col("nc") * c1 * c1).alias("sse1")))
    r2sse = (cells.crossJoin(F.broadcast(fs)).crossJoin(F.broadcast(s2))
             .agg(F.sum(F.col("syyc") - 2 * c2 * F.col("syc")
                        + F.col("nc") * c2 * c2).alias("sse2")))
    out1 = (fs.crossJoin(F.broadcast(r1sse))
            .select(F.lit(1).cast("bigint").alias("round"),
                    F.col("t1").alias("threshold"),
                    F.col("n1l").cast("bigint").alias("n_lo"),
                    F.col("n1r").cast("bigint").alias("n_hi"),
                    F.col("lo1").alias("leaf_lo"),
                    F.col("hi1").alias("leaf_hi"),
                    F.round(F.sqrt(F.col("sse1") / F.col("n")), 6)
                    .alias("rmse_after")))
    out2 = (s2.crossJoin(F.broadcast(r2sse)).crossJoin(F.broadcast(fs))
            .select(F.lit(2).cast("bigint").alias("round"),
                    F.col("t2").alias("threshold"),
                    F.col("n2l").cast("bigint").alias("n_lo"),
                    F.col("n2r").cast("bigint").alias("n_hi"),
                    F.col("lo2").alias("leaf_lo"),
                    F.col("hi2").alias("leaf_hi"),
                    F.round(F.sqrt(F.col("sse2") / F.col("n")), 6)
                    .alias("rmse_after")))
    return out1.unionByName(out2)


# Random-forest configuration: T trees, Poisson(1) bootstrap per tree
# (the ab_bootstrap_ci_poisson inverse-CDF thresholds — integer
# literals, bit-identical in any engine), candidate stumps drawn from a
# fixed (feature, threshold) grid with per-tree HASH-PARITY feature
# bagging (candidate kept for tree t iff md5-hash parity of "ft:t:f:thr"
# is even — the deterministic stand-in for per-tree feature sampling).
_RF_T = 5
# ONE source of truth for the Poisson(1) inverse-CDF thresholds: the
# bootstrap's table (cross-module private import, the _STOP_SQL
# precedent) — a re-declared copy would silently diverge if the
# bootstrap's table is ever retuned.
from ..operators.analytics_extra import _BOOT_T as _RF_POIS_T  # noqa: E402
_RF_GRID = ([("value", t) for t in
             (10.0, 20.0, 30.0, 40.0, 50.0, 60.0, 70.0, 80.0, 90.0)]
            + [("hour", t) for t in (4.0, 8.0, 12.0, 16.0, 20.0)])
_RF_NOISE_MOD = 7


def _rf_oracle() -> str:
    grid_rows = " UNION ALL ".join(
        f"SELECT '{f}' AS feature, CAST({t} AS DOUBLE) AS thr"
        for f, t in _RF_GRID)
    pois = " ".join(f"WHEN h < {v} THEN {k}"
                    for k, v in enumerate(_RF_POIS_T))
    return f"""
WITH base AS (
  SELECT event_id, value,
         CAST(datepart('hour', ts) AS DOUBLE) AS hour,
         CASE WHEN (value >= 40.0) != (event_id % {_RF_NOISE_MOD} = 0)
              THEN 1 ELSE -1 END AS y
  FROM events),
nn AS (SELECT count(*) AS n FROM base),
grid AS ({grid_rows}),
cand AS (
  SELECT t.tree, g.feature, g.thr, p.pol
  FROM range(1, {_RF_T} + 1) t(tree)
  CROSS JOIN grid g
  CROSS JOIN (SELECT unnest([1, -1]) AS pol) p
  WHERE ('0x' || substr(md5('ft:' || CAST(t.tree AS VARCHAR) || ':' ||
                            g.feature || ':' ||
                            CAST(CAST(g.thr AS BIGINT) AS VARCHAR)),
                        1, 8))::BIGINT % 2 = 0),
rep AS (
  SELECT b.*, t.tree,
         ('0x' || substr(md5(CAST(b.event_id AS VARCHAR) || ':' ||
                             CAST(t.tree AS VARCHAR)), 1, 8))::BIGINT AS h
  FROM base b CROSS JOIN range(1, {_RF_T} + 1) t(tree)),
w AS (SELECT event_id, value, hour, y, tree,
             CASE {pois} ELSE 6 END AS wt FROM rep),
errs AS (
  SELECT c.tree, c.feature, c.thr, c.pol,
         sum(CASE WHEN (CASE WHEN (CASE c.feature WHEN 'value'
                                   THEN w.value ELSE w.hour END) <= c.thr
                        THEN -c.pol ELSE c.pol END) != w.y
                  THEN w.wt ELSE 0 END) AS werr,
         sum(w.wt) AS wtot
  FROM w JOIN cand c ON c.tree = w.tree
  GROUP BY 1, 2, 3, 4),
best AS (
  SELECT tree, feature, thr, pol, werr, wtot FROM (
    SELECT *, row_number() OVER (PARTITION BY tree
              ORDER BY werr, feature, thr, pol) AS rn FROM errs)
  WHERE rn = 1),
oob AS (
  SELECT b.tree,
         count(*) AS oob_n,
         sum(CASE WHEN (CASE WHEN (CASE b2.feature WHEN 'value'
                                   THEN w.value ELSE w.hour END) <= b2.thr
                        THEN -b2.pol ELSE b2.pol END) != w.y
                  THEN 1 ELSE 0 END) AS oob_err
  FROM w JOIN best b ON b.tree = w.tree
  JOIN best b2 ON b2.tree = w.tree
  WHERE w.wt = 0 GROUP BY 1),
votes AS (
  SELECT r.event_id, r.y,
         sum(CASE WHEN (CASE r.feature WHEN 'value' THEN r.value
                        ELSE r.hour END) <= r.thr
                  THEN -r.pol ELSE r.pol END) AS v
  FROM (SELECT b.event_id, b.value, b.hour, b.y,
               bs.feature, bs.thr, bs.pol
        FROM base b CROSS JOIN best bs) r
  GROUP BY 1, 2),
ens AS (
  SELECT count(*) FILTER (
           WHERE (CASE WHEN v >= 0 THEN 1 ELSE -1 END) = y) AS nok
  FROM votes)
SELECT b.tree, b.feature, b.thr AS threshold,
       CAST(b.pol AS BIGINT) AS polarity,
       CAST(b.werr AS BIGINT) AS werr, CAST(b.wtot AS BIGINT) AS wtot,
       CAST(o.oob_n AS BIGINT) AS oob_n,
       CAST(o.oob_err AS BIGINT) AS oob_err,
       round((o.oob_n - o.oob_err) * 1.0 / o.oob_n, 9) AS oob_acc,
       round(ens.nok * 1.0 / nn.n, 9) AS ens_acc
FROM best b JOIN oob o ON o.tree = b.tree
CROSS JOIN ens CROSS JOIN nn
"""


@query("ml_random_forest_stumps", eager=True, oracle=_rf_oracle())
def ml_random_forest_stumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANDOM FOREST of decision stumps (Breiman 2001), fully
    relational and fully deterministic: {_RF_T} trees, each trained on
    a POISSON(1) BOOTSTRAP of the events table (per-row weight = the
    ab_bootstrap_ci_poisson inverse-CDF lookup of a content hash — the
    one-pass bootstrap that scales, no global resample) over a
    hash-parity-bagged subset of a fixed (feature, threshold, polarity)
    stump grid (value + hour-of-day features, the
    ml_decision_stump_gain bit-exact-constants guard). Per tree the
    report carries the chosen stump, its INTEGER weighted error, and
    the OUT-OF-BAG accuracy (rows whose bootstrap weight is 0 — the
    free validation set Breiman made famous); the ensemble column is
    the unweighted majority vote of all {_RF_T} stumps (odd T, so no
    tie rule is ever exercised).

    Unlike boosting (ml_adaboost_stumps / ml_gbm_ls_stumps) the trees
    have NO sequential dependency, so the whole forest trains in ONE
    aggregation pass: fan out rows x trees (a narrow generator, the
    bootstrap precedent), join the broadcast candidate grid, and take
    one grid-sized argmin per tree — weighted errors are pure int64
    (Poisson weights are integers), so the argmin is exact with the
    (werr, feature, thr, pol) tiebreak and no float enters until the
    two display accuracies round at 9 digits.

    Scale shape: one corpus scan fanned x{_RF_T} map-side, collapsed by
    the combiner into (tree x grid)-sized sufficient statistics; OOB
    and the vote are one more broadcast-join pass. At 100 TB with T
    trees and a G-candidate grid the shuffle is T x G rows — the same
    envelope as MLlib's RandomForest per depth level, minus its
    per-partition reservoirs."""
    events = load(spark, sf_dir, "events")
    from ..functions.vector import det_hash64

    base = events.select(
        "event_id", "value",
        F.hour("ts").cast("double").alias("hour"),
        F.when((F.col("value") >= 40.0)
               != (F.col("event_id") % _RF_NOISE_MOD == 0), 1)
        .otherwise(-1).alias("y"))
    nn = base.agg(F.count(F.lit(1)).alias("n"))
    trees = spark.range(1, _RF_T + 1).select(
        F.col("id").cast("int").alias("tree"))
    grid = spark.createDataFrame(_RF_GRID, "feature string, thr double")
    pols = spark.createDataFrame([(1,), (-1,)], "pol int")
    cand = (trees.crossJoin(grid).crossJoin(pols)
            .filter(det_hash64(F.concat_ws(
                ":", F.lit("ft"), F.col("tree"), F.col("feature"),
                F.col("thr").cast("bigint"))) % 2 == 0))
    cand.persist()

    rep = base.select(
        "*", F.explode(F.sequence(F.lit(1), F.lit(_RF_T))).alias("tree"))
    # materialize the hash at a projection boundary: the inverse-CDF
    # when-chain references it 7x, and codegen does not CSE an inlined
    # md5 across those references (the text.py tokenization lesson —
    # measured 4.5x wall on the sf1 rehearsal before this boundary)
    rep = rep.withColumn(
        "h", det_hash64(F.concat_ws(":", F.col("event_id"),
                                    F.col("tree"))))
    wt = F.lit(6)
    for k in range(len(_RF_POIS_T) - 1, -1, -1):
        wt = F.when(F.col("h") < _RF_POIS_T[k], k).otherwise(wt)
    w = rep.withColumn("wt", wt).drop("h")

    fval = F.when(F.col("feature") == "value",
                  F.col("value")).otherwise(F.col("hour"))
    pred = F.when(fval <= F.col("thr"), -F.col("pol")).otherwise(F.col("pol"))
    errs = (w.join(F.broadcast(cand), "tree")
            .groupBy("tree", "feature", "thr", "pol")
            .agg(F.sum(F.when(pred != F.col("y"), F.col("wt")).otherwise(0))
                 .alias("werr"),
                 F.sum("wt").alias("wtot")))
    from pyspark.sql import Window as W2
    rn = F.row_number().over(
        W2.partitionBy("tree").orderBy("werr", "feature", "thr", "pol"))
    best = (errs.withColumn("rn", rn).filter(F.col("rn") == 1)
            .drop("rn").localCheckpoint())

    bsel = best.select("tree", F.col("feature").alias("bf"),
                       F.col("thr").alias("bt"), F.col("pol").alias("bp"))
    bfval = F.when(F.col("bf") == "value",
                   F.col("value")).otherwise(F.col("hour"))
    bpred = F.when(bfval <= F.col("bt"),
                   -F.col("bp")).otherwise(F.col("bp"))
    oob = (w.filter(F.col("wt") == 0)
           .join(F.broadcast(bsel), "tree")
           .groupBy("tree")
           .agg(F.count(F.lit(1)).alias("oob_n"),
                F.sum(F.when(bpred != F.col("y"), 1).otherwise(0))
                .alias("oob_err")))
    votes = (base.crossJoin(F.broadcast(bsel))
             .groupBy("event_id", "y")
             .agg(F.sum(bpred).alias("v")))
    ens = votes.agg(F.sum(
        F.when((F.when(F.col("v") >= 0, 1).otherwise(-1))
               == F.col("y"), 1).otherwise(0)).alias("nok"))
    return (best.join(oob, "tree")
            .crossJoin(F.broadcast(ens)).crossJoin(F.broadcast(nn))
            .select(F.col("tree").cast("bigint").alias("tree"),
                    "feature", F.col("thr").alias("threshold"),
                    F.col("pol").cast("bigint").alias("polarity"),
                    F.col("werr").cast("bigint").alias("werr"),
                    F.col("wtot").cast("bigint").alias("wtot"),
                    F.col("oob_n").cast("bigint").alias("oob_n"),
                    F.col("oob_err").cast("bigint").alias("oob_err"),
                    F.round((F.col("oob_n") - F.col("oob_err")) * 1.0
                            / F.col("oob_n"), 9).alias("oob_acc"),
                    F.round(F.col("nok") * 1.0 / F.col("n"), 9)
                    .alias("ens_acc")))


# Learned quality filter: hashed-feature logistic regression DISTILLED
# from the Gopher rule gate — the classifier stage of production data
# pipelines (CCNet's LM filter, DCLM/fastText quality classifiers):
# hard rules are cheap to label with at corpus scale, and the learned
# model generalizes past the rule boundary. 64 hashed unigram buckets;
# 2 unrolled batch-GD rounds (the ml_logreg_gd_2iter recipe) keep the
# trainer oracle-exact.
_QC_B = 64        # hashed feature buckets
_QC_RATE = 0.1    # GD learning rate (shared shape with _LR_RATE)


def _qc_distill_oracle() -> str:
    from ..registry import ORACLE_SQL as osql
    gopher = osql["corpus_gopher_quality_rules"]
    return f"""
WITH gq AS MATERIALIZED ({gopher}),
yv AS (SELECT doc_id, CASE WHEN keep = 1 THEN 1.0 ELSE 0.0 END AS y
       FROM gq),
tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
        FROM documents),
feat AS MATERIALIZED (
  SELECT doc_id,
         ('0x' || substr(md5(word), 1, 8))::BIGINT % {_QC_B} AS i,
         count(*) AS c
  FROM tok WHERE word <> '' GROUP BY 1, 2),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
g1 AS (SELECT f.i, sum((0.5 - yv.y) * f.c) AS g
       FROM feat f JOIN yv USING (doc_id) GROUP BY f.i),
w1 AS MATERIALIZED (SELECT i, -{_QC_RATE} * g / n.n AS w FROM g1, n),
z2 AS (SELECT f.doc_id, sum(f.c * w1.w) AS z
       FROM feat f JOIN w1 USING (i) GROUP BY f.doc_id),
p2 AS (SELECT doc_id, 1.0 / (1.0 + exp(-z)) AS p FROM z2),
g2 AS (SELECT f.i, sum((p2.p - yv.y) * f.c) AS g
       FROM feat f JOIN p2 USING (doc_id) JOIN yv USING (doc_id)
       GROUP BY f.i)
SELECT w1.i, round(w1.w - {_QC_RATE} * g2.g / n.n, 6) AS w
FROM w1 JOIN g2 USING (i), n
"""


@query("ml_quality_classifier_distill", oracle=_qc_distill_oracle())
def ml_quality_classifier_distill(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """LEARNED QUALITY FILTER by RULE DISTILLATION — the model-based
    stage of production corpus pipelines (CCNet's classifier, the
    DCLM / fastText quality models): label every document with the
    Gopher hard-rule verdict (corpus_gopher_quality_rules, reused
    verbatim on both engines), featurize as {_QC_B} md5-hashed unigram
    count buckets (the feature_hashing_trick portable hash), and train
    logistic regression with two unrolled batch-GD rounds — the exact
    ml_logreg_gd_2iter recipe, so the trainer is ORACLE-EXACT, not
    rows-only. Output is the learned bucket-weight vector; scoring a
    new document is one broadcast join + sigmoid (the weights are
    model state).

    Why distill: the rule gate is brittle at the boundary (a 49-word
    doc fails, a 50-word doc passes); the classifier smooths it and
    transfers to domains where individual rules misfire — while
    training labels stay FREE at corpus scale because the teacher is
    itself a one-scan relational query. The direction test
    (test_quality_distill_separates_classes) pins that two GD rounds
    already score rule-kept docs above rule-dropped ones on average.

    Numeric determinism, by the logreg precedent: round-1 gradient
    terms (0.5 - y)·c are exact dyadic sums of integers; w1 is then a
    single identical-operand float expression in both engines; round-2
    scores re-aggregate through sigmoid (cross-engine exp parity
    pinned by arr_sigmoid/P4) and the output rounds to the 6-digit
    grid. Scale shape: featurize is one narrow explode + (doc, bucket)
    count with map-side combine; each GD round is one {_QC_B}-row
    broadcast join + one bucket-keyed gradient aggregate (the RBM
    weight-shuffle shape — shuffle width is B, corpus-independent);
    more rounds = the same plan repeated under a checkpoint cadence
    (the text_bpe_merge_train_scaled loop discipline)."""
    from ..operators.corpus_hygiene import corpus_gopher_quality_rules

    docs = load(spark, sf_dir, "documents")
    n = float(docs.count())
    yv = (corpus_gopher_quality_rules(spark, sf_dir)
          .select("doc_id", F.when(F.col("keep") == 1, 1.0)
                  .otherwise(0.0).alias("y")))
    feat = (docs.select(
                "doc_id",
                F.explode(F.split(F.lower("text"), " ")).alias("word"))
            .filter(F.col("word") != "")
            .select("doc_id",
                    (F.conv(F.substring(F.md5("word"), 1, 8), 16, 10)
                     .cast("bigint") % _QC_B).alias("i"))
            .groupBy("doc_id", "i").agg(F.count(F.lit(1)).alias("c")))

    g1 = (feat.join(yv, "doc_id").groupBy("i")
          .agg(F.sum((F.lit(0.5) - F.col("y")) * F.col("c")).alias("g")))
    w1 = g1.select(
        "i", (F.lit(-_QC_RATE) * F.col("g") / F.lit(n)).alias("w"))
    z2 = (feat.join(F.broadcast(w1), "i").groupBy("doc_id")
          .agg(F.sum(F.col("c") * F.col("w")).alias("z")))
    p2 = z2.select(
        "doc_id",
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("z")))).alias("p"))
    g2 = (feat.join(p2, "doc_id").join(yv, "doc_id").groupBy("i")
          .agg(F.sum((F.col("p") - F.col("y")) * F.col("c")).alias("g")))
    return (w1.join(g2, "i")
            .select("i",
                    F.round(F.col("w") - F.lit(_QC_RATE) * F.col("g")
                            / F.lit(n), 6).alias("w")))


# ---------------------------------------------------------------------------
# Per-class precision/recall/F1 over the langid confusion matrix.


def _langid_f1_oracle() -> str:
    from ..registry import ORACLE_SQL
    return f"""
WITH cm AS MATERIALIZED ({ORACLE_SQL["ml_naive_bayes_langid"]}),
classes AS (
  SELECT true_lang AS lang FROM cm
  UNION SELECT pred_lang FROM cm),
tp AS (SELECT true_lang AS lang, sum(n) AS tp FROM cm
       WHERE true_lang = pred_lang GROUP BY 1),
actual AS (SELECT true_lang AS lang, sum(n) AS act FROM cm GROUP BY 1),
predicted AS (SELECT pred_lang AS lang, sum(n) AS prd FROM cm GROUP BY 1),
m AS (
  SELECT c.lang,
         coalesce(tp.tp, 0) AS tp,
         coalesce(predicted.prd, 0) - coalesce(tp.tp, 0) AS fp,
         coalesce(actual.act, 0) - coalesce(tp.tp, 0) AS fn
  FROM classes c
  LEFT JOIN tp USING (lang)
  LEFT JOIN actual USING (lang)
  LEFT JOIN predicted USING (lang)),
scored AS (
  SELECT lang, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
         CAST(fn AS BIGINT) AS fn,
         CASE WHEN tp + fp = 0 THEN 0
              ELSE (1000000 * tp) // (tp + fp) END AS prec_e6,
         CASE WHEN tp + fn = 0 THEN 0
              ELSE (1000000 * tp) // (tp + fn) END AS rec_e6
  FROM m)
SELECT lang, tp, fp, fn,
       CAST(prec_e6 AS BIGINT) AS prec_e6,
       CAST(rec_e6 AS BIGINT) AS rec_e6,
       CAST(CASE WHEN prec_e6 + rec_e6 = 0 THEN 0
                 ELSE (2 * prec_e6 * rec_e6) // (prec_e6 + rec_e6) END
            AS BIGINT) AS f1_e6
FROM scored
"""


@query("ml_langid_macro_f1", oracle=_langid_f1_oracle())
def ml_langid_macro_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-CLASS PRECISION / RECALL / F1 over the Naive-Bayes langid
    confusion matrix — the standard multiclass classification report
    (macro-F1 is the unweighted mean of the f1_e6 column, one tiny
    aggregate away), completing the eval family next to the BINARY
    metrics (ml_threshold_sweep_f1's PR sweep, ml_auc_rank_sum's
    ranking view): per class, tp from the diagonal, fp from the
    prediction column margin, fn from the truth row margin, each ratio
    an exact integer micro-division with the 0/0 classes pinned to 0
    on both engines (a class never predicted and never true).

    Built BY COMPOSITION: the confusion matrix is the registered
    ml_naive_bayes_langid result reused verbatim — Spark callable on
    one side, its oracle SQL as a CTE on the other — so classifier and
    report cannot drift.

    Scale shape: the confusion matrix is |langs|^2 rows (model-sized at
    any corpus size); margins and ratios are trivial re-aggregations of
    it. All corpus-sized work already happened inside the classifier's
    one training/scoring pass."""
    cm = ml_naive_bayes_langid(spark, sf_dir)
    classes = (cm.select(F.col("true_lang").alias("lang"))
               .union(cm.select("pred_lang")).distinct())
    tp = (cm.filter(F.col("true_lang") == F.col("pred_lang"))
          .groupBy(F.col("true_lang").alias("lang"))
          .agg(F.sum("n").alias("tp")))
    actual = (cm.groupBy(F.col("true_lang").alias("lang"))
              .agg(F.sum("n").alias("act")))
    predicted = (cm.groupBy(F.col("pred_lang").alias("lang"))
                 .agg(F.sum("n").alias("prd")))
    m = (classes.join(tp, "lang", "left")
         .join(actual, "lang", "left")
         .join(predicted, "lang", "left")
         .select("lang",
                 F.coalesce("tp", F.lit(0)).alias("tp"),
                 (F.coalesce("prd", F.lit(0))
                  - F.coalesce("tp", F.lit(0))).alias("fp"),
                 (F.coalesce("act", F.lit(0))
                  - F.coalesce("tp", F.lit(0))).alias("fn")))
    scored = m.select(
        "lang", F.col("tp").cast("bigint").alias("tp"),
        F.col("fp").cast("bigint").alias("fp"),
        F.col("fn").cast("bigint").alias("fn"),
        F.expr("CASE WHEN tp + fp = 0 THEN 0 "
               "ELSE (1000000 * tp) DIV (tp + fp) END").alias("prec_e6"),
        F.expr("CASE WHEN tp + fn = 0 THEN 0 "
               "ELSE (1000000 * tp) DIV (tp + fn) END").alias("rec_e6"))
    return scored.select(
        "lang", "tp", "fp", "fn",
        F.col("prec_e6").cast("bigint").alias("prec_e6"),
        F.col("rec_e6").cast("bigint").alias("rec_e6"),
        F.expr("CAST(CASE WHEN prec_e6 + rec_e6 = 0 THEN 0 "
               "ELSE (2 * prec_e6 * rec_e6) DIV (prec_e6 + rec_e6) END "
               "AS BIGINT)").alias("f1_e6"))


# ---------------------------------------------------------------------------
# Expected calibration error over the reliability bins.


def _ece_oracle() -> str:
    from ..registry import ORACLE_SQL
    return f"""
WITH bins AS MATERIALIZED ({ORACLE_SQL["ml_calibration_bins"]})
SELECT CAST(sum(n) AS BIGINT) AS n_total,
       CAST(count(*) AS BIGINT) AS n_bins,
       CAST(sum(n * CAST(round(abs(calib_gap) * 1000000) AS BIGINT))
            // sum(n) AS BIGINT) AS ece_e6,
       CAST(max(CAST(round(abs(calib_gap) * 1000000) AS BIGINT))
            AS BIGINT) AS mce_e6
FROM bins
"""


@query("ml_calibration_ece", oracle=_ece_oracle())
def ml_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXPECTED CALIBRATION ERROR (Naeini et al. AAAI 2015; the
    single-number summary of the reliability diagram every model card
    reports) plus MAXIMUM calibration error: the bin-population-
    weighted mean and max of the per-bin |confidence - accuracy| gaps.
    Built BY COMPOSITION on ml_calibration_bins' registered result
    (builder on the Spark side, oracle CTE on the DuckDB side) — the
    classifier-eval family's report rollup, like ml_langid_macro_f1
    rolls up the confusion matrix.

    Integer discipline: each bin's gap is already rounded to 6 digits
    by the bins operator, so round(|gap| * 1e6) recovers an exact
    integer micro value on both engines; the weighted mean is integer
    floor division. Scale shape: a 10-row aggregate — all corpus work
    happened in the bins pass."""
    bins = ml_calibration_bins(spark, sf_dir)
    gap_int = F.round(F.abs(F.col("calib_gap")) * 1000000).cast("bigint")
    return (bins.agg(
        F.sum("n").cast("bigint").alias("n_total"),
        F.count(F.lit(1)).cast("bigint").alias("n_bins"),
        F.expr("CAST(sum(n * CAST(round(abs(calib_gap) * 1000000) AS "
               "BIGINT)) DIV sum(n) AS BIGINT)").alias("ece_e6"),
        F.max(gap_int).cast("bigint").alias("mce_e6")))


# ---------------------------------------------------------------------------
# Decile lift / gains table.


@query("ml_lift_gains_deciles", oracle="""
WITH s AS (SELECT vec_id, CAST(label % 2 AS INTEGER) AS y,
                  CAST(embedding[1] AS DOUBLE) AS score FROM embeddings),
d AS (SELECT y, ntile(10) OVER (ORDER BY score DESC, vec_id) AS decile
      FROM s),
g AS (SELECT decile, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS n_pos
      FROM d GROUP BY decile),
c AS (SELECT decile, n, n_pos,
             sum(n) OVER (ORDER BY decile) AS cum_n,
             sum(n_pos) OVER (ORDER BY decile) AS cum_pos,
             sum(n) OVER () AS tot_n, sum(n_pos) OVER () AS tot_pos
      FROM g)
SELECT CAST(decile AS BIGINT) AS decile, n, n_pos,
       CAST((1000000 * n_pos) // n AS BIGINT) AS resp_e6,
       CAST((1000000 * cum_pos) // cum_n AS BIGINT) AS cum_resp_e6,
       CAST(CASE WHEN tot_pos = 0 THEN 0
                 ELSE (1000000 * cum_pos * tot_n) // (cum_n * tot_pos)
            END AS BIGINT) AS cum_lift_e6,
       CAST(CASE WHEN tot_pos = 0 THEN 0
                 ELSE (1000000 * cum_pos) // tot_pos END AS BIGINT)
         AS cum_gain_e6
FROM c
""")
def ml_lift_gains_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DECILE LIFT / CUMULATIVE GAINS table — the targeting-model
    readout (direct-marketing / churn scoring's standard eval, and the
    business-facing twin of the ROC family): rank the population by
    score, cut into 10 equal tiles, and report each tile's response
    rate plus the cumulative lift over random targeting and the
    cumulative share of all positives captured ("the top 2 deciles
    capture X% of responders"). Completes the classifier-eval family:
    ml_auc_rank_sum (ranking), ml_threshold_sweep_f1 (operating
    point), ml_calibration_bins/ece (probability quality), this
    (budgeted-targeting value). Same deliberately weak scorer
    convention as all of them: first embedding coordinate vs label
    parity.

    Determinism: ntile over (score DESC, vec_id) is a total order on
    both engines; every ratio is an exact integer micro floor-division
    (lift's double ratio cross-multiplied into one integer division,
    tot_pos = 0 pinned to 0).

    Scale shape: the rank is ONE range-partitioned sort of
    (score, id) pairs — metadata-sized rows, the distributed-total-
    order shape sort_global_range_partitioned pins; everything after
    is a 10-row table. At 100 TB the exact ntile swaps for the
    approx-quantile cut the histogram family already implements."""
    from pyspark.sql import Window as W

    emb = load(spark, sf_dir, "embeddings")
    s = emb.select(
        "vec_id", (F.col("label") % 2).cast("int").alias("y"),
        F.element_at(F.col("embedding"), 1).cast("double").alias("score"))
    d = s.withColumn(
        "decile",
        F.ntile(10).over(W.orderBy(F.desc("score"), F.asc("vec_id"))))
    g = (d.groupBy("decile")
         .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
              F.sum("y").cast("bigint").alias("n_pos")))
    wc = W.orderBy("decile").rowsBetween(W.unboundedPreceding, 0)
    wt = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    c = (g.withColumn("cum_n", F.sum("n").over(wc))
         .withColumn("cum_pos", F.sum("n_pos").over(wc))
         .withColumn("tot_n", F.sum("n").over(wt))
         .withColumn("tot_pos", F.sum("n_pos").over(wt)))
    return c.select(
        F.col("decile").cast("bigint").alias("decile"), "n", "n_pos",
        F.expr("CAST((1000000 * n_pos) DIV n AS BIGINT)").alias("resp_e6"),
        F.expr("CAST((1000000 * cum_pos) DIV cum_n AS BIGINT)")
        .alias("cum_resp_e6"),
        F.expr("CAST(CASE WHEN tot_pos = 0 THEN 0 ELSE "
               "(1000000 * cum_pos * tot_n) DIV (cum_n * tot_pos) END "
               "AS BIGINT)").alias("cum_lift_e6"),
        F.expr("CAST(CASE WHEN tot_pos = 0 THEN 0 ELSE "
               "(1000000 * cum_pos) DIV tot_pos END AS BIGINT)")
        .alias("cum_gain_e6"))


# ---------------------------------------------------------------------------
# Exact precision-recall AUC (average precision).


@query("ml_pr_auc", oracle="""
WITH s AS (SELECT vec_id, CAST(label % 2 AS INTEGER) AS y,
                  CAST(embedding[1] AS DOUBLE) AS score
           FROM embeddings),
r AS (SELECT vec_id, y,
             row_number() OVER (ORDER BY score DESC, vec_id) AS rk
      FROM s),
c AS (SELECT rk, y,
             sum(y) OVER (ORDER BY rk) AS tp
      FROM r),
a AS (SELECT CAST(sum(CASE WHEN y = 1
                           THEN (1000000 * tp) // rk ELSE 0 END)
                  AS BIGINT) AS ap_sum_e6,
             CAST(sum(y) AS BIGINT) AS n_pos,
             CAST(count(*) - sum(y) AS BIGINT) AS n_neg
      FROM c)
SELECT n_pos, n_neg,
       CAST(CASE WHEN n_pos = 0 THEN 0
            ELSE ap_sum_e6 // n_pos END AS BIGINT) AS ap_e6,
       round(CASE WHEN n_pos = 0 THEN 0.0
             ELSE (ap_sum_e6 // n_pos) / 1000000.0 END, 6) AS avg_precision
FROM a
""")
def ml_pr_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT PRECISION-RECALL AUC as AVERAGE PRECISION (Davis & Goadrich
    ICML 2006, "The relationship between Precision-Recall and ROC
    curves"): AP = (1/n_pos) * sum over positive-ranked items of
    precision@rank — the PR companion to ml_auc_rank_sum's ROC-AUC, and
    the metric that actually separates scorers under class imbalance
    (ROC-AUC saturates when negatives dominate; every retrieval /
    quality-filter eval reports AP instead). Same target/scorer
    conventions as the ROC twin: binary target = label parity, scorer =
    first embedding coordinate, ranks DESC by score with vec_id
    tiebreak so duplicated scores stay deterministic.

    Integer micro-grid discipline: precision@k = tp/k is floored to
    e6 micro-units per positive BEFORE the cross-row sum, so the
    engine-order-dependent float summation never happens — AP is an
    exact int64 arithmetic chain on both engines (the LOF / lift-table
    convention), with the display column derived from the integer.

    Scale shape: one global rank (at 100 TB: range-partitioned sort +
    per-partition offsets, the corpus_shard_assign two-phase prefix
    sum — the one-shot window IS that plan at vectors-count size), one
    running sum, one scalar fold. Nothing pairwise."""
    from pyspark.sql import Window as W

    emb = load(spark, sf_dir, "embeddings")
    s = emb.select(
        "vec_id", (F.col("label") % 2).cast("int").alias("y"),
        F.col("embedding")[0].cast("double").alias("score"))
    r = s.select("vec_id", "y", F.row_number().over(
        W.orderBy(F.desc("score"), "vec_id")).alias("rk"))
    c = r.select("rk", "y",
                 F.sum("y").over(W.orderBy("rk")).alias("tp"))
    a = c.agg(
        F.sum(F.when(F.col("y") == 1,
                     F.expr("(1000000 * tp) DIV rk")).otherwise(0))
        .cast("bigint").alias("ap_sum_e6"),
        F.sum("y").cast("bigint").alias("n_pos"),
        (F.count(F.lit(1)) - F.sum("y")).cast("bigint").alias("n_neg"))
    ap = F.when(F.col("n_pos") == 0, F.lit(0)).otherwise(
        F.expr("ap_sum_e6 DIV n_pos")).cast("bigint")
    return a.select(
        "n_pos", "n_neg", ap.alias("ap_e6"),
        F.round(F.when(F.col("n_pos") == 0, F.lit(0.0)).otherwise(
            F.expr("CAST(ap_sum_e6 DIV n_pos AS DOUBLE)") / 1000000.0), 6)
        .alias("avg_precision"))


# ---------------------------------------------------------------------------
# Qini / uplift deciles (incremental-response targeting eval).

# single-sourced from the CUPED pre/post boundary so the two
# experiment-analysis families can never disagree on the split
from ..operators.relational import _CUPED_SPLIT as _QINI_SPLIT  # noqa: E402


@query("ml_uplift_qini", oracle=f"""
WITH u AS (
  SELECT user_id,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR) || '|arm'), 1, 8))
           ::BIGINT % 2 AS arm,
         sum(CASE WHEN ts < TIMESTAMP '{_QINI_SPLIT}'
             THEN 1 ELSE 0 END) AS score,
         max(CASE WHEN ts >= TIMESTAMP '{_QINI_SPLIT}'
                  AND event_type = 'purchase' THEN 1 ELSE 0 END) AS y
  FROM events GROUP BY user_id),
d AS (SELECT arm, y, ntile(10) OVER (ORDER BY score DESC, user_id)
               AS decile
      FROM u),
g AS (SELECT decile,
             CAST(sum(arm) AS BIGINT) AS n_t,
             CAST(count(*) - sum(arm) AS BIGINT) AS n_c,
             CAST(sum(CASE WHEN arm = 1 THEN y ELSE 0 END) AS BIGINT)
               AS y_t,
             CAST(sum(CASE WHEN arm = 0 THEN y ELSE 0 END) AS BIGINT)
               AS y_c
      FROM d GROUP BY decile),
c AS (SELECT decile, n_t, n_c, y_t, y_c,
             sum(n_t) OVER w AS cn_t, sum(n_c) OVER w AS cn_c,
             sum(y_t) OVER w AS cy_t, sum(y_c) OVER w AS cy_c
      FROM g WINDOW w AS (ORDER BY decile
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT CAST(decile AS BIGINT) AS decile, n_t, n_c, y_t, y_c,
       CAST(CASE WHEN cn_c = 0 THEN NULL
            ELSE (1000000 * (cy_t * cn_c - cy_c * cn_t)) // cn_c END
            AS BIGINT) AS qini_e6
FROM c
""")
def ml_uplift_qini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QINI CURVE / uplift deciles (Radcliffe 2007, "Using control
    groups to target on predicted lift") — the INCREMENTAL-response
    readout that separates uplift modeling from plain response modeling
    (ml_lift_gains_deciles ranks responders; this ranks users the
    TREATMENT actually moves, netting out the control baseline): users
    deciled by targeting score (pre-period activity, ties by user_id),
    and per cumulative depth k the Qini value
    Q(k) = Y_t(k) - Y_c(k) * N_t(k)/N_c(k) — incremental conversions
    vs the control scaled to the treated volume.

    Determinism: arm is the standard det_hash64 split; outcome is the
    exact binary post-period purchase indicator; the Qini value is
    cross-multiplied into ONE integer floor-division
    ((1e6*(cy_t*cn_c - cy_c*cn_t)) // cn_c), so the whole curve is
    int64-exact — no float enters. An empty-control depth reports NULL
    on both engines.

    Scale shape: one combiner'd groupBy(user), one global ntile
    (range-partitioned sort at 100 TB), a 10-row cumulative window —
    the lift-table budget with a control-arm column."""
    from ..functions.vector import det_hash64
    from pyspark.sql import Window as W

    ev = load(spark, sf_dir, "events")
    split = F.lit(_QINI_SPLIT).cast("timestamp")
    u = (ev.groupBy("user_id")
         .agg(F.sum(F.when(F.col("ts") < split, 1).otherwise(0))
              .alias("score"),
              F.max(F.when((F.col("ts") >= split)
                           & (F.col("event_type") == "purchase"), 1)
                    .otherwise(0)).alias("y"))
         .withColumn("arm", det_hash64(
             F.concat(F.col("user_id").cast("string"),
                      F.lit("|arm"))) % 2))
    d = u.withColumn("decile", F.ntile(10).over(
        W.orderBy(F.desc("score"), "user_id")))
    g = (d.groupBy("decile")
         .agg(F.sum("arm").cast("bigint").alias("n_t"),
              (F.count(F.lit(1)) - F.sum("arm")).cast("bigint")
              .alias("n_c"),
              F.sum(F.when(F.col("arm") == 1, F.col("y")).otherwise(0))
              .cast("bigint").alias("y_t"),
              F.sum(F.when(F.col("arm") == 0, F.col("y")).otherwise(0))
              .cast("bigint").alias("y_c")))
    wc = W.orderBy("decile").rowsBetween(W.unboundedPreceding, 0)
    c = (g.withColumn("cn_t", F.sum("n_t").over(wc))
         .withColumn("cn_c", F.sum("n_c").over(wc))
         .withColumn("cy_t", F.sum("y_t").over(wc))
         .withColumn("cy_c", F.sum("y_c").over(wc)))
    return c.select(
        F.col("decile").cast("bigint").alias("decile"),
        "n_t", "n_c", "y_t", "y_c",
        F.when(F.col("cn_c") == 0, F.lit(None)).otherwise(
            F.expr("(1000000 * (cy_t * cn_c - cy_c * cn_t)) DIV cn_c"))
        .cast("bigint").alias("qini_e6"))


# ---------------------------------------------------------------------------
# Murphy decomposition of the (binned) Brier score.


def _brier_oracle() -> str:
    from ..registry import ORACLE_SQL
    return f"""
WITH bins AS MATERIALIZED ({ORACLE_SQL["ml_calibration_bins"]}),
b AS (SELECT n,
             CAST(round(pos_frac * n) AS BIGINT) AS yk,
             (mean_score + 1.0) / 2.0 AS pbar,
             pos_frac AS ybar_k
      FROM bins),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
               CAST(sum(yk) AS BIGINT) AS yy FROM b),
yb AS (SELECT nn, yy,
              CAST(yy AS DOUBLE) / nn AS ybar FROM tot),
terms AS (
  SELECT CAST(sum(CAST(floor(1000000000.0 * b.n
                 * (b.pbar - b.ybar_k) * (b.pbar - b.ybar_k) / yb.nn)
                 AS BIGINT)) AS BIGINT) AS rel_e9,
         CAST(sum(CAST(floor(1000000000.0 * b.n
                 * (b.ybar_k - yb.ybar) * (b.ybar_k - yb.ybar) / yb.nn)
                 AS BIGINT)) AS BIGINT) AS res_e9
  FROM b, yb)
SELECT yb.nn AS n, yb.yy AS y_sum, round(yb.ybar, 6) AS y_bar,
       CAST(floor(1000000000.0 * yb.ybar * (1 - yb.ybar)) AS BIGINT)
         AS unc_e9,
       terms.rel_e9, terms.res_e9,
       CAST(floor(1000000000.0 * yb.ybar * (1 - yb.ybar)) AS BIGINT)
         - terms.res_e9 + terms.rel_e9 AS brier_e9
FROM yb, terms
"""


@query("ml_brier_decomposition", oracle=_brier_oracle())
def ml_brier_decomposition(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """MURPHY DECOMPOSITION of the binned Brier score (Murphy 1973):
    BS = UNCERTAINTY - RESOLUTION + RELIABILITY — the canonical
    split of a probabilistic scorer's quality into what the base rate
    costs (unc), what the forecaster's sharpness buys back (res), and
    what its miscalibration adds (rel). Composes on the REGISTERED
    ml_calibration_bins builder/oracle (the ml_calibration_ece
    convention), so bin semantics cannot drift: per-bin forecast =
    the bin's mean implied probability, per-bin outcome = its exact
    positive rate.

    Numerics: per-bin counts and positive counts are exact int64
    (yk recovered from the exact integer-ratio pos_frac times n — a
    within-ulp product rounded back to the integer); each bin's
    reliability/resolution term is one identical double expression
    floored to e9 micro-units BEFORE the cross-bin sum (the micro-grid
    discipline), so the decomposition is int64-exact; brier_e9 is the
    Murphy identity assembled from the integer components.

    Scale shape: everything after the bins' single corpus scan is
    10-row arithmetic."""
    bins = ml_calibration_bins(spark, sf_dir)
    b = bins.select(
        "n",
        F.round(F.col("pos_frac") * F.col("n")).cast("bigint").alias("yk"),
        ((F.col("mean_score") + 1.0) / 2.0).alias("pbar"),
        F.col("pos_frac").alias("ybar_k"))
    tot = b.agg(F.sum("n").cast("bigint").alias("nn"),
                F.sum("yk").cast("bigint").alias("yy"))
    yb = tot.select("nn", "yy",
                    (F.col("yy").cast("double") / F.col("nn"))
                    .alias("ybar"))
    bj = b.crossJoin(F.broadcast(yb))
    rel_t = F.floor(F.lit(1000000000.0) * F.col("n")
                    * (F.col("pbar") - F.col("ybar_k"))
                    * (F.col("pbar") - F.col("ybar_k"))
                    / F.col("nn")).cast("bigint")
    res_t = F.floor(F.lit(1000000000.0) * F.col("n")
                    * (F.col("ybar_k") - F.col("ybar"))
                    * (F.col("ybar_k") - F.col("ybar"))
                    / F.col("nn")).cast("bigint")
    terms = bj.agg(F.sum(rel_t).cast("bigint").alias("rel_e9"),
                   F.sum(res_t).cast("bigint").alias("res_e9"))
    unc = F.floor(F.lit(1000000000.0) * F.col("ybar")
                  * (1 - F.col("ybar"))).cast("bigint")
    return (yb.crossJoin(F.broadcast(terms))
            .select(F.col("nn").alias("n"), F.col("yy").alias("y_sum"),
                    F.round(F.col("ybar"), 6).alias("y_bar"),
                    unc.alias("unc_e9"), "rel_e9", "res_e9",
                    (unc - F.col("res_e9") + F.col("rel_e9"))
                    .alias("brier_e9")))


# ---------------------------------------------------------------------------
# Learning curve: held-out accuracy vs nested training-data fractions.

_LC_FRACS = (1, 2, 4)   # det-hash % 4 < k  ->  25% / 50% / 100% of train


def _lc_block_sql(k: int) -> str:
    return f"""
tr{k} AS (SELECT label, generate_subscripts(embedding, 1) AS i,
                 unnest(embedding)::DOUBLE AS x
          FROM train
          WHERE ('0x' || substr(md5(CAST(vec_id AS VARCHAR) || '|lc'),
                                1, 8))::BIGINT % 4 < {k}),
n{k} AS (SELECT CAST(count(DISTINCT vec_id) AS BIGINT) AS n_train
         FROM train
         WHERE ('0x' || substr(md5(CAST(vec_id AS VARCHAR) || '|lc'),
                               1, 8))::BIGINT % 4 < {k}),
cent{k} AS (SELECT label AS clabel, i, avg(x) AS c
            FROM tr{k} GROUP BY label, i),
d{k} AS (SELECT te.vec_id, te.label, cent{k}.clabel,
                round(sum((te.x - cent{k}.c) * (te.x - cent{k}.c)), 9)
                  AS d2
         FROM te JOIN cent{k} ON te.i = cent{k}.i
         GROUP BY te.vec_id, te.label, cent{k}.clabel),
p{k} AS (SELECT vec_id, label, clabel AS pred,
                row_number() OVER (PARTITION BY vec_id
                                   ORDER BY d2, clabel) AS rn
         FROM d{k}),
a{k} AS (SELECT CAST(count(*) AS BIGINT) AS n_eval,
                CAST(coalesce(sum(CASE WHEN pred = label
                                  THEN 1 ELSE 0 END), 0)
                     AS BIGINT) AS n_correct
         FROM p{k} WHERE rn = 1)"""


def _lc_oracle() -> str:
    blocks = ",".join(_lc_block_sql(k) for k in _LC_FRACS)
    rows = " UNION ALL ".join(
        f"SELECT CAST({k * 25} AS BIGINT) AS train_pct, n{k}.n_train, "
        f"a{k}.n_eval, a{k}.n_correct, "
        f"CAST(CASE WHEN a{k}.n_eval = 0 THEN 0 "
        f"ELSE (1000000 * a{k}.n_correct) // a{k}.n_eval END AS BIGINT) "
        f"AS acc_e6 FROM n{k}, a{k}"
        for k in _LC_FRACS)
    return f"""
WITH train AS (SELECT * FROM embeddings WHERE vec_id % 5 <> 0),
test AS (SELECT * FROM embeddings WHERE vec_id % 5 = 0),
te AS (SELECT vec_id, label, generate_subscripts(embedding, 1) AS i,
              unnest(embedding)::DOUBLE AS x FROM test),
{blocks}
{rows}
"""


@query("ml_learning_curve", eager=True, oracle=_lc_oracle())
def ml_learning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEARNING CURVE — held-out accuracy at NESTED training-data
    fractions (Hestness et al. 2017 "Deep learning scaling is
    predictable"; the data-scaling axis of Kaplan et al. 2020): the
    question a training-data pipeline exists to answer is "does more
    data still help?", and the measurement is this table — the same
    model fit on 25% / 50% / 100% of the training pool, all graded on
    the SAME held-out set. Subsets are NESTED by construction
    (det-hash % 4 < k), so each bigger fraction strictly contains the
    smaller — the curve isolates data volume, not resampling noise.

    Model and conventions are ml_centroid_classifier's verbatim
    (per-label mean centroids; 9-digit-rounded squared distance with
    smallest-label ties; vec_id %% 5 == 0 held out), so the 100%% row
    reconciles with that query's aggregate accuracy. The accuracy is
    an exact integer floor-division.

    Scale shape: per fraction one posexplode + (label, dim)-keyed mean
    (shuffle = labels x dims rows regardless of input), centroids fold
    back as literals, scoring is one narrow codegen pass over the
    fixed eval set — the curve costs fractions x one-classifier, all
    combiner-friendly."""
    from ..functions.vector import det_hash64

    emb = load(spark, sf_dir, "embeddings")
    train, test = deterministic_split(emb)
    numdims = len(emb.select("embedding").first()["embedding"])
    h = det_hash64(F.concat(F.col("vec_id").cast("string"),
                            F.lit("|lc"))) % 4
    test = test.persist()
    rows = []
    for k in _LC_FRACS:
        sub = train.filter(h < k)
        n_train = sub.count()
        if n_train == 0:
            # degenerate-subset guard (ADVICE r10): with no centroids
            # the oracle's d/p CTEs are empty, so its a-row counts
            # n_eval = 0 and n_correct = 0 (coalesced) with acc 0 —
            # emit the identical row instead of scoring against
            # F.array() (whose array_min is NULL, not "no eval rows")
            rows.append((k * 25, 0, 0, 0, 0))
            continue
        cent_rows = (sub.select(
                         "label",
                         F.posexplode(F.col("embedding")
                                      .cast("array<double>"))
                         .alias("i", "x"))
                     .groupBy("label", "i").agg(F.avg("x").alias("c"))
                     .collect())
        centroids: dict[int, list[float]] = {}
        for r in cent_rows:
            centroids.setdefault(
                r["label"], [0.0] * numdims)[r["i"]] = r["c"]
        v = F.col("embedding").cast("array<double>")
        cands = F.array(*[
            F.struct(
                F.round(F.aggregate(
                    F.zip_with(v, F.lit(cvec),
                               lambda x, c: (x - c) * (x - c)),
                    F.lit(0.0), lambda acc, y: acc + y), 9).alias("d"),
                F.lit(lbl).alias("l"))
            for lbl, cvec in sorted(centroids.items())])
        agg = (test.withColumn("pred", F.array_min(cands)["l"])
               .agg(F.count(F.lit(1)).alias("n_eval"),
                    F.sum(F.when(F.col("pred") == F.col("label"), 1)
                          .otherwise(0)).alias("n_correct"))
               .collect()[0])
        # empty held-out set: count() is 0 and the conditional sum is
        # NULL — coalesce like the oracle's a-row does
        n_eval = int(agg["n_eval"])
        n_correct = int(agg["n_correct"] or 0)
        rows.append((k * 25, n_train, n_eval, n_correct,
                     (1000000 * n_correct) // n_eval if n_eval else 0))
    test.unpersist()
    return spark.createDataFrame(
        rows, "train_pct bigint, n_train bigint, n_eval bigint, "
              "n_correct bigint, acc_e6 bigint")
