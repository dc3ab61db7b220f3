"""Oracle-checkable RBM queries (SURVEY.md §7 minimum slice + C2-C7).

The flagship `rbm_cd1_epoch` is one full CD-1 epoch in mean-field
(deterministic) mode over embeddings(64-dim) with a 64x16 weight matrix
W[i,j] = 0.1*sin(i*16+j) — exercising scan (S1), broadcast (S4), sigmoid
(P4), flatten (P7), keyed sum (A1), global mean (A4) and the CD-1
composites (C2-C4) end-to-end. The DuckDB oracle re-derives the identical
numbers from first principles via explode -> join -> aggregate GEMMs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..tables import load
from .cd1 import cd1_gradient_df, forward_prop_df, init_weights_sin
from .trainer import RBMTrainer

NUMDIMS, NUMHID, EPSILON = 64, 16, 0.1

# Shared SQL fragments: embeddings exploded to (vec_id, i, x) and the
# deterministic sin weight matrix (i, j, w) — both derivable in any engine.
_V = ("SELECT vec_id, generate_subscripts(embedding,1)-1 AS i, "
      "CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings")
_W = (f"SELECT i.i, j.j, 0.1*sin(CAST(i.i*{NUMHID}+j.j AS DOUBLE)) AS w "
      f"FROM range({NUMDIMS}) i(i), range({NUMHID}) j(j)")

_CD1_ORACLE = f"""
WITH v AS ({_V}),
w AS ({_W}),
h0 AS (
  SELECT v.vec_id, w.j, 1.0/(1.0+exp(-sum(v.x*w.w))) AS h
  FROM v JOIN w ON v.i = w.i GROUP BY v.vec_id, w.j
),
v1 AS (
  SELECT h0.vec_id, w.i, 1.0/(1.0+exp(-sum(h0.h*w.w))) AS x
  FROM h0 JOIN w ON h0.j = w.j GROUP BY h0.vec_id, w.i
),
h1 AS (
  SELECT v1.vec_id, w.j, 1.0/(1.0+exp(-sum(v1.x*w.w))) AS h
  FROM v1 JOIN w ON v1.i = w.i GROUP BY v1.vec_id, w.j
),
pos AS (
  SELECT v.i, h0.j, sum(v.x*h0.h) AS p
  FROM v JOIN h0 ON v.vec_id = h0.vec_id GROUP BY v.i, h0.j
),
neg AS (
  SELECT v1.i, h1.j, sum(v1.x*h1.h) AS n
  FROM v1 JOIN h1 ON v1.vec_id = h1.vec_id GROUP BY v1.i, h1.j
),
nc AS (SELECT count(*) AS c FROM embeddings)
SELECT pos.i*{NUMHID}+pos.j AS idx,
       round({EPSILON}*(pos.p - neg.n)/nc.c, 9) AS dw
FROM pos JOIN neg ON pos.i = neg.i AND pos.j = neg.j CROSS JOIN nc
"""


@query("rbm_cd1_epoch", oracle=_CD1_ORACLE)
def rbm_cd1_epoch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One full-batch mean-field CD-1 gradient epoch (the flagship):
    sin-init weights, mapInArrow batch math, posexplode + groupBy(idx)
    keyed-sum — the reference's entire MapReduce job as one plan."""
    emb = load(spark, sf_dir, "embeddings")
    W = init_weights_sin(NUMDIMS, NUMHID)
    grad = cd1_gradient_df(emb, "embedding", W, epsilon=EPSILON)
    return grad.select("idx", F.round("dw", 9).alias("dw"))


_FPROP_ORACLE = f"""
WITH v AS ({_V}),
w AS ({_W})
SELECT v.vec_id, w.j, round(1.0/(1.0+exp(-sum(v.x*w.w))), 6) AS h
FROM v JOIN w ON v.i = w.i GROUP BY v.vec_id, w.j
"""


@query("rbm_forward_prop", oracle=_FPROP_ORACLE)
def rbm_forward_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7: h = sigmoid(v*W), exploded to (vec_id, j, h) — a narrow stage
    (the reference ran an identity-reducer shuffle for this, defect-adjacent
    A3; /root/reference/propreducer.java:16-23)."""
    emb = load(spark, sf_dir, "embeddings")
    W = init_weights_sin(NUMDIMS, NUMHID)
    out = forward_prop_df(emb, "embedding", W, out_col="hidden")
    return (out.select("vec_id", F.posexplode("hidden").alias("j", "h"))
            .select("vec_id", F.col("j").cast("bigint").alias("j"),
                    F.round("h", 6).alias("h")))


_FPROP_Q_ORACLE = f"""
WITH v AS ({_V}),
w AS ({_W})
SELECT v.vec_id, w.j,
       CAST(floor(255.0/(1.0+exp(-sum(v.x*w.w)))) AS BIGINT) AS hq
FROM v JOIN w ON v.i = w.i GROUP BY v.vec_id, w.j
"""


@query("rbm_forward_prop_quantized", oracle=_FPROP_Q_ORACLE)
def rbm_forward_prop_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7+P5 fidelity: int(sigmoid(v*W)*255), the text re-encoding the
    reference applies between layers (/root/reference/propmapper.java:156)."""
    emb = load(spark, sf_dir, "embeddings")
    W = init_weights_sin(NUMDIMS, NUMHID)
    out = forward_prop_df(emb, "embedding", W, out_col="hidden", quantize=True)
    return (out.select("vec_id", F.posexplode("hidden").alias("j", "hq"))
            .select("vec_id", F.col("j").cast("bigint").alias("j"), "hq"))


# Deterministic Bernoulli uniform u[vec_id, j] for epoch 0 — the exact
# content-hash formula det_uniforms/det_hash64 use, expressed in ANSI SQL:
# first 8 hex chars of md5("{vec_id}|{j}|0"), mod 2^24, scaled to [0, 1).
_U0 = ("(('0x' || substr(md5(CAST(vec_id AS VARCHAR) || '|' || "
       "CAST(j AS VARCHAR) || '|0'), 1, 8))::BIGINT % 16777216) / 16777216.0")

_CD1_SAMPLED_ORACLE = f"""
WITH v AS ({_V}),
w AS ({_W}),
h0 AS (
  SELECT v.vec_id, w.j, 1.0/(1.0+exp(-sum(v.x*w.w))) AS h
  FROM v JOIN w ON v.i = w.i GROUP BY v.vec_id, w.j
),
h0s AS (
  SELECT vec_id, j, CASE WHEN h > {_U0} THEN 1.0 ELSE 0.0 END AS s
  FROM h0
),
v1 AS (
  SELECT h0s.vec_id, w.i, 1.0/(1.0+exp(-sum(h0s.s*w.w))) AS x
  FROM h0s JOIN w ON h0s.j = w.j GROUP BY h0s.vec_id, w.i
),
h1 AS (
  SELECT v1.vec_id, w.j, 1.0/(1.0+exp(-sum(v1.x*w.w))) AS h
  FROM v1 JOIN w ON v1.i = w.i GROUP BY v1.vec_id, w.j
),
pos AS (
  SELECT v.i, h0.j, sum(v.x*h0.h) AS p
  FROM v JOIN h0 ON v.vec_id = h0.vec_id GROUP BY v.i, h0.j
),
neg AS (
  SELECT v1.i, h1.j, sum(v1.x*h1.h) AS n
  FROM v1 JOIN h1 ON v1.vec_id = h1.vec_id GROUP BY v1.i, h1.j
),
nc AS (SELECT count(*) AS c FROM embeddings)
SELECT pos.i*{NUMHID}+pos.j AS idx,
       round({EPSILON}*(pos.p - neg.n)/nc.c, 9) AS dw
FROM pos JOIN neg ON pos.i = neg.i AND pos.j = neg.j CROSS JOIN nc
"""


@query("rbm_cd1_epoch_sampled", oracle=_CD1_SAMPLED_ORACLE)
def rbm_cd1_epoch_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 + C2-C4: one SAMPLED CD-1 epoch — h0s drawn per (row, unit) from
    a content hash (cd1.det_uniforms), so the Bernoulli epoch is exactly
    SQL-expressible and partition-invariant (the reference's fresh unseeded
    Random per record, rbmmapper.java:169, is irreproducible by design)."""
    emb = load(spark, sf_dir, "embeddings")
    W = init_weights_sin(NUMDIMS, NUMHID)
    grad = cd1_gradient_df(emb, "embedding", W, epsilon=EPSILON,
                           sampled=True, id_col="vec_id")
    return grad.select("idx", F.round("dw", 9).alias("dw"))


def _cd1_chain(wcte: str, suf: str, vcte: str = "v") -> str:
    """One mean-field CD-1 epoch as CTEs against weight CTE `wcte` and
    input CTE `vcte`(vec_id, i, x), producing d{suf}(i, j, dw) — the chain
    rbm_cd1_epoch's oracle uses, parameterized so it can be applied twice
    for the 2-epoch query and per-layer for the DBN stack."""
    return f"""
h0{suf} AS (
  SELECT v.vec_id, w.j, 1.0/(1.0+exp(-sum(v.x*w.w))) AS h
  FROM {vcte} v JOIN {wcte} w ON v.i = w.i GROUP BY v.vec_id, w.j
),
v1{suf} AS (
  SELECT h.vec_id, w.i, 1.0/(1.0+exp(-sum(h.h*w.w))) AS x
  FROM h0{suf} h JOIN {wcte} w ON h.j = w.j GROUP BY h.vec_id, w.i
),
h1{suf} AS (
  SELECT v1.vec_id, w.j, 1.0/(1.0+exp(-sum(v1.x*w.w))) AS h
  FROM v1{suf} v1 JOIN {wcte} w ON v1.i = w.i GROUP BY v1.vec_id, w.j
),
pos{suf} AS (
  SELECT v.i, h.j, sum(v.x*h.h) AS p
  FROM {vcte} v JOIN h0{suf} h ON v.vec_id = h.vec_id GROUP BY v.i, h.j
),
neg{suf} AS (
  SELECT v1.i, h1.j, sum(v1.x*h1.h) AS n
  FROM v1{suf} v1 JOIN h1{suf} h1 ON v1.vec_id = h1.vec_id
  GROUP BY v1.i, h1.j
),
d{suf} AS (
  SELECT pos.i, pos.j, {EPSILON}*(pos.p - neg.n)/nc.c AS dw
  FROM pos{suf} pos JOIN neg{suf} neg ON pos.i = neg.i AND pos.j = neg.j
  CROSS JOIN nc
)"""


_CD1_2EP_ORACLE = f"""
WITH v AS ({_V}),
w0 AS ({_W}),
nc AS (SELECT count(*) AS c FROM embeddings),
{_cd1_chain("w0", "1")},
w1 AS (
  SELECT w0.i, w0.j, w0.w + d1.dw AS w
  FROM w0 JOIN d1 ON w0.i = d1.i AND w0.j = d1.j
),
{_cd1_chain("w1", "2")}
SELECT w1.i*{NUMHID}+w1.j AS idx, round(w1.w + d2.dw, 7) AS w
FROM w1 JOIN d2 ON w1.i = d2.i AND w1.j = d2.j
"""


def _u_sql(epoch: int) -> str:
    """The det_uniforms formula (which the CD-1 kernel computes per batch
    with a vectorized MD5) at a given epoch, in ANSI SQL, referencing
    columns (vec_id, j) of the enclosing CTE."""
    return ("(('0x' || substr(md5(CAST(vec_id AS VARCHAR) || '|' || "
            f"CAST(j AS VARCHAR) || '|{epoch}'), 1, 8))::BIGINT "
            "% 16777216) / 16777216.0")


def _cd1_sampled_chain(wcte: str, suf: str, epoch: int, vcte: str = "v") -> str:
    """One SAMPLED CD-1 epoch as CTEs: hidden states thresholded against the
    epoch-keyed content-hash uniforms (positive phase still uses the
    probabilities, Hinton's practical guide §3). Produces d{suf}(i, j, dw)."""
    return f"""
h0{suf} AS (
  SELECT v.vec_id, w.j, 1.0/(1.0+exp(-sum(v.x*w.w))) AS h
  FROM {vcte} v JOIN {wcte} w ON v.i = w.i GROUP BY v.vec_id, w.j
),
h0s{suf} AS (
  SELECT vec_id, j, CASE WHEN h > {_u_sql(epoch)} THEN 1.0 ELSE 0.0 END AS s
  FROM h0{suf}
),
v1{suf} AS (
  SELECT h.vec_id, w.i, 1.0/(1.0+exp(-sum(h.s*w.w))) AS x
  FROM h0s{suf} h JOIN {wcte} w ON h.j = w.j GROUP BY h.vec_id, w.i
),
h1{suf} AS (
  SELECT v1.vec_id, w.j, 1.0/(1.0+exp(-sum(v1.x*w.w))) AS h
  FROM v1{suf} v1 JOIN {wcte} w ON v1.i = w.i GROUP BY v1.vec_id, w.j
),
pos{suf} AS (
  SELECT v.i, h.j, sum(v.x*h.h) AS p
  FROM {vcte} v JOIN h0{suf} h ON v.vec_id = h.vec_id GROUP BY v.i, h.j
),
neg{suf} AS (
  SELECT v1.i, h1.j, sum(v1.x*h1.h) AS n
  FROM v1{suf} v1 JOIN h1{suf} h1 ON v1.vec_id = h1.vec_id
  GROUP BY v1.i, h1.j
),
d{suf} AS (
  SELECT pos.i, pos.j, {EPSILON}*(pos.p - neg.n)/nc.c AS dw
  FROM pos{suf} pos JOIN neg{suf} neg ON pos.i = neg.i AND pos.j = neg.j
  CROSS JOIN nc
)"""


@query("rbm_cd1_two_epochs", oracle=_CD1_2EP_ORACLE)
def rbm_cd1_two_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5/A5 end-to-end: the REAL trainer loop (RBMTrainer.fit, two
    epochs, full batch, mean-field) — epoch-1 weights fold into epoch 2
    exactly as the reference's per-epoch job chain does via HDFS text
    round-trips (/root/reference/driver.java:90-219), except the weights
    stay in driver memory and are re-broadcast. Oracle applies the CD-1
    CTE chain twice with the epoch-1 update in between; rounded to 7
    decimals because two chained epochs compound ~1e-13 of cross-engine
    float summation noise."""
    emb = load(spark, sf_dir, "embeddings")
    t = RBMTrainer(NUMDIMS, NUMHID, epsilon=EPSILON, max_epoch=2)
    W = t.fit(emb, "embedding", W0=init_weights_sin(NUMDIMS, NUMHID))
    flat = [(int(i), float(x)) for i, x in enumerate(W.ravel())]
    return (spark.createDataFrame(flat, "idx bigint, w double")
            .select("idx", F.round("w", 7).alias("w")))


_CD1_2EP_SAMPLED_ORACLE = f"""
WITH v AS ({_V}),
w0 AS ({_W}),
nc AS (SELECT count(*) AS c FROM embeddings),
{_cd1_sampled_chain("w0", "1", epoch=0)},
w1 AS (
  SELECT w0.i, w0.j, w0.w + d1.dw AS w
  FROM w0 JOIN d1 ON w0.i = d1.i AND w0.j = d1.j
),
{_cd1_sampled_chain("w1", "2", epoch=1)}
SELECT w1.i*{NUMHID}+w1.j AS idx, round(w1.w + d2.dw, 7) AS w
FROM w1 JOIN d2 ON w1.i = d2.i AND w1.j = d2.j
"""


@query("rbm_cd1_two_epochs_sampled", oracle=_CD1_2EP_SAMPLED_ORACLE)
def rbm_cd1_two_epochs_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5 + P6 end-to-end: the STOCHASTIC trainer loop, oracle-checked —
    two sampled CD-1 epochs through RBMTrainer.fit, with the Bernoulli
    uniforms content-hash-keyed on (row, unit, epoch) so each epoch's
    draws are distinct yet exactly reproducible in SQL (epoch flows into
    the text the CD-1 kernel hashes; reference: one job per epoch with a
    fresh unseeded Random per record, driver.java:90-219 +
    rbmmapper.java:169)."""
    emb = load(spark, sf_dir, "embeddings")
    t = RBMTrainer(NUMDIMS, NUMHID, epsilon=EPSILON, max_epoch=2,
                   sampled=True, id_col="vec_id")
    W = t.fit(emb, "embedding", W0=init_weights_sin(NUMDIMS, NUMHID))
    flat = [(int(i), float(x)) for i, x in enumerate(W.ravel())]
    return (spark.createDataFrame(flat, "idx bigint, w double")
            .select("idx", F.round("w", 7).alias("w")))


NUMHID2 = 8  # second RBM layer width for the oracle-checked DBN stack

_W2 = (f"SELECT i.i, j.j, 0.1*sin(CAST(i.i*{NUMHID2}+j.j AS DOUBLE)) AS w "
       f"FROM range({NUMHID}) i(i), range({NUMHID2}) j(j)")

_DBN_2LAYER_ORACLE = f"""
WITH v AS ({_V}),
w0 AS ({_W}),
nc AS (SELECT count(*) AS c FROM embeddings),
{_cd1_chain("w0", "1")},
w1 AS (
  SELECT w0.i, w0.j, w0.w + d1.dw AS w
  FROM w0 JOIN d1 ON w0.i = d1.i AND w0.j = d1.j
),
act AS (
  SELECT v.vec_id, w.j AS i, 1.0/(1.0+exp(-sum(v.x*w.w))) AS x
  FROM v JOIN w1 w ON v.i = w.i GROUP BY v.vec_id, w.j
),
w20 AS ({_W2}),
{_cd1_chain("w20", "2", vcte="act")},
w2 AS (
  SELECT w20.i, w20.j, w20.w + d2.dw AS w
  FROM w20 JOIN d2 ON w20.i = d2.i AND w20.j = d2.j
)
SELECT CAST(1 AS BIGINT) AS layer, i*{NUMHID}+j AS idx, round(w, 7) AS w FROM w1
UNION ALL
SELECT CAST(2 AS BIGINT) AS layer, i*{NUMHID2}+j AS idx, round(w, 7) AS w FROM w2
"""


@query("rbm_dbn_two_layer", oracle=_DBN_2LAYER_ORACLE)
def rbm_dbn_two_layer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6 oracle-checked: the greedy two-layer DBN stack (64->16->8) through
    the REAL DBN.fit loop — train layer 1 (one mean-field CD-1 epoch, sin
    init), forward-prop the TRAINED weights to activations, train layer 2
    on those activations (sin init), emit both updated weight matrices.
    The oracle replays the identical stack as chained CTEs: CD-1 chain on v
    with w0 -> w1, sigmoid activations under w1, CD-1 chain on act with
    w20 -> w2 (reference: per-layer-pair job chain with TEXT round-trips
    between layers, driver.java:64-287)."""
    from .trainer import DBN

    emb = load(spark, sf_dir, "embeddings")
    dbn = DBN([NUMDIMS, NUMHID, NUMHID2], max_epoch=1, epsilon=EPSILON)
    dbn.fit(emb, "embedding",
            w0s=[init_weights_sin(NUMDIMS, NUMHID),
                 init_weights_sin(NUMHID, NUMHID2)])
    rows = [(layer, int(i), float(x))
            for layer, W in enumerate(dbn.weights, start=1)
            for i, x in enumerate(W.ravel())]
    return (spark.createDataFrame(rows, "layer bigint, idx bigint, w double")
            .select("layer", "idx", F.round("w", 7).alias("w")))


_CD1_FULL_ORACLE = f"""
WITH v AS ({_V}),
w AS ({_W}),
h0 AS (
  SELECT v.vec_id, w.j, 1.0/(1.0+exp(-sum(v.x*w.w))) AS h
  FROM v JOIN w ON v.i = w.i GROUP BY v.vec_id, w.j
),
v1 AS (
  SELECT h0.vec_id, w.i, 1.0/(1.0+exp(-sum(h0.h*w.w))) AS x
  FROM h0 JOIN w ON h0.j = w.j GROUP BY h0.vec_id, w.i
),
h1 AS (
  SELECT v1.vec_id, w.j, 1.0/(1.0+exp(-sum(v1.x*w.w))) AS h
  FROM v1 JOIN w ON v1.i = w.i GROUP BY v1.vec_id, w.j
),
pos AS (
  SELECT v.i, h0.j, sum(v.x*h0.h) AS p
  FROM v JOIN h0 ON v.vec_id = h0.vec_id GROUP BY v.i, h0.j
),
neg AS (
  SELECT v1.i, h1.j, sum(v1.x*h1.h) AS n
  FROM v1 JOIN h1 ON v1.vec_id = h1.vec_id GROUP BY v1.i, h1.j
),
nc AS (SELECT count(*) AS c FROM embeddings)
SELECT pos.i*{NUMHID}+pos.j AS idx,
       round({EPSILON}*(pos.p - neg.n)/nc.c, 9) AS dw
FROM pos JOIN neg ON pos.i = neg.i AND pos.j = neg.j CROSS JOIN nc
UNION ALL
SELECT {NUMDIMS * NUMHID} + hb.j AS idx,
       round({EPSILON}*hb.g/nc.c, 9) AS dw
FROM (SELECT h0.j, sum(h0.h - h1.h) AS g
      FROM h0 JOIN h1 ON h0.vec_id = h1.vec_id AND h0.j = h1.j
      GROUP BY h0.j) hb CROSS JOIN nc
UNION ALL
SELECT {NUMDIMS * NUMHID + NUMHID} + vb.i AS idx,
       round({EPSILON}*vb.g/nc.c, 9) AS dw
FROM (SELECT v.i, sum(v.x - v1.x) AS g
      FROM v JOIN v1 ON v.vec_id = v1.vec_id AND v.i = v1.i
      GROUP BY v.i) vb CROSS JOIN nc
"""


@query("rbm_cd1_epoch_biases", oracle=_CD1_FULL_ORACLE)
def rbm_cd1_epoch_biases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-parameter mean-field CD-1 epoch: weight gradient PLUS hidden-
    and visible-bias gradients in one flat keyed stream (zero-initialized
    biases, so the phase math matches the flagship epoch and the oracle
    reuses its CTEs with two UNION branches). The reference declares both
    bias vectors but never trains or emits them (defect D5,
    rbmmapper.java:131-132); this is the intended Hinton update."""
    from .cd1 import cd1_gradient_full_df, init_weights_sin

    emb = load(spark, sf_dir, "embeddings")
    W = init_weights_sin(NUMDIMS, NUMHID)
    return cd1_gradient_full_df(
        emb.select(F.col("embedding").cast("array<double>").alias("v")),
        "v", W, epsilon=EPSILON)


_MOMENTUM = 0.5

_CD1_2EP_MOM_ORACLE = f"""
WITH v AS ({_V}),
w0 AS ({_W}),
nc AS (SELECT count(*) AS c FROM embeddings),
{_cd1_chain("w0", "1")},
w1 AS (
  SELECT w0.i, w0.j, w0.w + d1.dw AS w
  FROM w0 JOIN d1 ON w0.i = d1.i AND w0.j = d1.j
),
{_cd1_chain("w1", "2")}
SELECT w1.i*{NUMHID}+w1.j AS idx,
       round(w1.w + {_MOMENTUM}*d1.dw + d2.dw, 7) AS w
FROM w1
JOIN d1 ON w1.i = d1.i AND w1.j = d1.j
JOIN d2 ON w1.i = d2.i AND w1.j = d2.j
"""


@query("rbm_cd1_two_epochs_momentum", oracle=_CD1_2EP_MOM_ORACLE)
def rbm_cd1_two_epochs_momentum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4 repair, oracle-checked: the two-epoch trainer loop with classic
    heavy-ball momentum (m=0.5 — the reference's declared-but-never-
    applied initialmomentum, rbmmapper.java:78). Epoch 1's velocity is
    its gradient (vel0=0), so W1 matches the plain loop and the oracle
    reuses the two-epoch CTE chain; epoch 2 applies
    W2 = W1 + m*d1 + d2 — the only line momentum changes."""
    emb = load(spark, sf_dir, "embeddings")
    t = RBMTrainer(NUMDIMS, NUMHID, epsilon=EPSILON, max_epoch=2,
                   momentum=_MOMENTUM)
    W = t.fit(emb, "embedding", W0=init_weights_sin(NUMDIMS, NUMHID))
    flat = [(int(i), float(x)) for i, x in enumerate(W.ravel())]
    return (spark.createDataFrame(flat, "idx bigint, w double")
            .select("idx", F.round("w", 7).alias("w")))
